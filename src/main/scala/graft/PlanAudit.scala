package graft
/** Dev tool: dump formatted physical plans for representative queries so
  * pushdown / broadcast / codegen can be audited (`sbt "runMain
  * graft.PlanAudit [query...]"`). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // plan shape depends on the data scale (file sizes drive broadcast
    // estimates and the FanOut split heuristic) and the core count, so
    // committed plan artifacts must be captured at the sfDir and core
    // count the bench runs
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    // flags are stripped BEFORE the empty-check so `-executed` alone
    // still audits the default queries
    val (flags, given) = args.toSeq.partition(_.startsWith("-"))
    val qnames = if (given.nonEmpty) given else Seq(
      "q02_event_filter", "q13_revenue_by_nation", "q06_dim_join_left")
    // `-executed` prints the post-run adaptive plan (AQE's final stage
    // graph, where runtime exchange/stage reuse is visible) instead of
    // the static initial plan.
    val executed = flags.contains("-executed")
    qnames.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (executed) {
        // run an action THROUGH this Dataset's own QueryExecution: a
        // sink write plans a separate QueryExecution, leaving this one's
        // adaptive plan un-finalized (isFinalPlan=false, no runtime
        // reuse visible)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
