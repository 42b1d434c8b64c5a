// Ad-hoc single-query timing + plan dump: sbt "runMain graft.QTime q16_distinct_approx"
package graft

object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(org.apache.spark.sql.functions.sum("id")).collect()
    args.foreach { name =>
      // through the spec so per-query execution confs apply (and are
      // restored), matching what Verify/Bench measure
      val sp = QueryCatalog.byName(name)
      val times = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        sp.withConfs(spark) {
          sp.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        }
        (System.nanoTime() - t0) / 1e9
      }
      println(f"QTIME $name best=${times.min}%.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
      if (sys.env.contains("QTIME_EXPLAIN"))
        sp.withConfs(spark)(sp.fn(spark, sfDir).explain("formatted"))
    }
    spark.stop()
  }
}
