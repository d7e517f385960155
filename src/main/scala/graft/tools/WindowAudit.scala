package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec

/**
 * Catalog-wide single-partition-window audit (the q606/q610/q679 scale
 * hazard, measured instead of guessed): runs every SparkEntry query, walks
 * the EXECUTED plan, and for each WindowExec with an EMPTY partitionSpec
 * records the actual row count that flowed through it (child's
 * numOutputRows metric). An unpartitioned window over a bounded aggregate
 * (daily series, top-k report, bin table) is fine; one over a
 * key-cardinality relation is a global single-partition sort at scale.
 *
 * Usage: WindowAudit <sfDir> [rowThreshold=10000] — prints one line per
 * (query, window) above the threshold, then a summary.
 */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // args(1) is the threshold only when numeric; a non-numeric token there
    // starts the query-name list (WindowAudit <sfDir> q123 must not crash)
    val thresholdArg = args.drop(1).headOption
      .flatMap(a => scala.util.Try(a.toLong).toOption)
    val threshold = thresholdArg.getOrElse(10000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Sessions.local(cpus, "ERROR", graft.Sessions.catalogConfs(cpus))
    graft.SparkEntry.init(spark)

    // unwrap AQE / query-stage shells so WindowExec children are reachable
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case other                    => other +: other.children.flatMap(walk)
    }
    def rowsOf(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    // WindowExec/SortExec define no numOutputRows; descend (unwrapping AQE
    // shells) to the nearest descendant that does — that row count is what
    // flowed INTO the window's single partition. Row-REDUCING operators
    // without the metric (limits, top-k) cap the count at their limit:
    // descending past them would charge the window for rows the limit
    // already dropped.
    def rowsBelow(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => rowsBelow(a.executedPlan)
      case q: QueryStageExec        => rowsBelow(q.plan)
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        t.limit
      case g: org.apache.spark.sql.execution.GlobalLimitExec => g.limit
      case l: org.apache.spark.sql.execution.LocalLimitExec  => l.limit
      case other =>
        val r = rowsOf(other)
        if (r >= 0) r
        else other.children.map(rowsBelow).foldLeft(-1L)(math.max)
    }

    var flagged = List.empty[(String, Long)]
    // optional: restrict to named queries (start at arg 1 when no
    // numeric threshold was given there)
    val only = args.drop(if (thresholdArg.isDefined) 2 else 1).toSet
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    for ((name, fn) <- names) {
      try {
        val df = fn(spark, sfDir)
        // execute THIS QueryExecution (df.write would plan a separate copy
        // whose metrics stay zero) so AQE finalizes and metrics populate
        val qe = df.queryExecution
        qe.toRdd.count()
        val plans = walk(qe.executedPlan).distinct
        if (sys.env.contains("GRAFT_AUDIT_DEBUG"))
          System.err.println(s"[window-audit][debug] $name nodes: " +
            plans.map(_.getClass.getSimpleName).distinct.mkString(", "))
        val bad = plans.collect {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            w.children.map(rowsBelow).max
        }.filter(_ >= threshold)
        if (bad.nonEmpty) {
          val worst = bad.max
          flagged ::= (name, worst)
          println(f"[window-audit] $name%-28s unpartitioned window rows=$worst")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[window-audit] $name failed: ${e.getMessage}")
      }
    }
    println(s"[window-audit] ${flagged.size} queries with an unpartitioned " +
      s"window over >= $threshold rows (sf=$sfDir)")
    flagged.sortBy(-_._2).foreach { case (n, r) => println(f"  $n%-28s $r") }
    spark.stop()
  }
}
