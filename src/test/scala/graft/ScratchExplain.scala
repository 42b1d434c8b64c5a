package graft

/** Dev scratch: print a query's FINAL (post-AQE) physical plan at an
  * arbitrary sf dir — run the plan first, then dump the adaptively
  * re-planned tree (explain("formatted") alone shows the initial one). */
object ScratchExplain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "q07_symmetric_matchups"
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      println(df.queryExecution.executedPlan.toString)
    } catch {
      case e: Throwable => e.printStackTrace()
    }
    spark.stop()
  }
}
