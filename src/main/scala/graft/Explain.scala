package graft

/**
 * Plan-audit main: prints `explain("formatted")` for the named catalog
 * queries (all of them if no args) against SPARK_GRAFT_SF_DIR. Used to
 * check the physical plans scale-sensitive properties — parquet
 * PushedFilters/ReadSchema pruning, broadcast vs shuffle joins,
 * WholeStageCodegen span coverage — without editing code.
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "ERROR",
      Sessions.catalogConfs("32"))
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
