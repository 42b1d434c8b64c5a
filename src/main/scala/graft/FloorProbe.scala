package graft

/** Dev tool: attribute a query's fixed per-run cost to pipeline
  * stages — construction+analysis, optimization, physical planning,
  * and execution (which under AQE includes per-stage re-planning and
  * codegen). `sbt "runMain graft.FloorProbe q06_share_of_total"`.
  * Used for the round-8 floor audit (see SCALE.md). */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(org.apache.spark.sql.functions.sum("id")).collect()
    Tables.all.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, t)
        df.limit(1).collect()
      } catch { case _: Throwable => () }
    }
    args.foreach { name =>
      // through the spec so per-query execution confs apply (and are
      // restored), matching what Verify/Bench measure
      val sp = QueryCatalog.byName(name)
      (1 to 4).foreach { i => sp.withConfs(spark) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = sp.fn(spark, sfDir)
        val qe = df.queryExecution
        qe.analyzed
        val t1 = System.nanoTime()
        qe.optimizedPlan
        val t2 = System.nanoTime()
        qe.executedPlan
        val t3 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t4 = System.nanoTime()
        println(f"FLOOR $name run$i analyze=${(t1 - t0) / 1e6}%.0fms " +
          f"optimize=${(t2 - t1) / 1e6}%.0fms plan=${(t3 - t2) / 1e6}%.0fms " +
          f"exec=${(t4 - t3) / 1e6}%.0fms total=${(t4 - t0) / 1e6}%.0fms")
      }}
    }
    spark.stop()
  }
}
