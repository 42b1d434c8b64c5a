package graft
/** Dev tool: dump physical plans for representative queries to audit
  * pushdown / pruning / join strategy / codegen coverage. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q03_filter_project", "q04_star_join", "q08_topk_revenue", "q28_cosine_topk")
    names.foreach { n =>
      println(s"########## $n ##########")
      // through the spec so per-query execution confs shape the
      // audited plan exactly as they shape the benched one
      val sp = QueryCatalog.byName(n)
      sp.withConfs(spark)(sp.fn(spark, dir).explain("formatted"))
    }
    spark.stop()
  }
}
