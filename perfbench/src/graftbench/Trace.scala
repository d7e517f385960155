package graftbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task and job totals the engine reports through its listener bus. */
final class EngineListener extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      tasks += 1
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task duration not spent deserializing,
      // running, serializing the result or fetching it
      schedDelayMs += math.max(0L, info.duration - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
  }

  /** Median over stages of (slowest task / median task). */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      ds.max / math.max(med, 1.0)
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

/** Counts read from one executed plan. */
final case class PlanCounts(
    indexJoins: Int = 0, gridJoins: Int = 0, bboxFilters: Int = 0,
    bnlj: Int = 0, codegenFallback: Int = 0, gridCellRows: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(indexJoins + o.indexJoins,
    gridJoins + o.gridJoins, bboxFilters + o.bboxFilters, bnlj + o.bnlj,
    codegenFallback + o.codegenFallback, gridCellRows + o.gridCellRows)
}

object PlanCounts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanCounts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanCounts(
      indexJoins = nodes.count(_.nodeName == "SpatialIndexJoin"),
      gridJoins = nodes.count {
        case j: BaseJoinExec => j.expressions.exists(_.exists(_.prettyName == "grid_ref_cell"))
        case _ => false
      },
      bboxFilters = nodes.map {
        case s: FileSourceScanExec =>
          s.dataFilters.count(_.references.exists(_.name.endsWith("_bbox")))
        case _ => 0
      }.sum,
      bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      codegenFallback = nodes.map(_.expressions.map(_.collect {
        case e: CodegenFallback => e
      }.size).sum).sum,
      // rows the grid join's cell expansion emits: one per (geometry, cell)
      gridCellRows = nodes.collect {
        case g: GenerateExec if g.generator.exists(_.prettyName == "grid_cells") =>
          g.metrics("numOutputRows").value
      }.sum)
  }
}

/** Planning time and plan counts of every query the session executes. */
final class PlanListener extends QueryExecutionListener {
  val planningMs = mutable.ArrayBuffer[Double]()
  var counts = PlanCounts()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planningMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    counts = counts + PlanCounts.of(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/**
 * Attaches both listeners for the traced part of a run and removes them
 * afterwards, so untimed and untraced parts carry no tracing cost.
 */
final class Tracer(spark: SparkSession) {
  val engine = new EngineListener
  val plans = new PlanListener
  private var attached = false
  private var wallS = 0.0
  private var startNs = 0L
  /** Traced intervals so far: one per traced pass, so totals are reported per pass. */
  private var intervals = 0

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def start(): Unit = {
    drain()
    if (!attached) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(plans)
      attached = true
    }
    startNs = System.nanoTime()
  }

  def stop(): Unit = {
    wallS += (System.nanoTime() - startNs) / 1e9
    intervals += 1
    drain()
    if (attached) {
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(plans)
      attached = false
    }
  }

  def perPass(total: Double): Double = total / math.max(intervals, 1)

  /** Engine metrics per traced pass. */
  def engineMetrics(cores: Int): Map[String, Double] = engine.synchronized {
    Map(
      "engine.jobs" -> perPass(engine.jobs),
      "engine.tasks" -> perPass(engine.tasks),
      "engine.sched_delay_s" -> perPass(engine.schedDelayMs / 1e3),
      "engine.core_util" -> engine.runMs / 1e3 / math.max(wallS * cores, 1e-9),
      "engine.gc_s" -> perPass(engine.gcMs / 1e3),
      "engine.shuffle_mb" -> perPass(engine.shuffleBytes / 1048576.0),
      "engine.spill_mb" -> perPass(engine.spillBytes / 1048576.0),
      "engine.task_skew" -> engine.taskSkew)
  }

  /** Mean planning time per query (the phase tracker counts whole
    * milliseconds), and plan counts per traced pass. */
  def planMetrics: Map[String, Double] = plans.synchronized {
    val c = plans.counts
    Map(
      "plans.planning_ms" -> Stats.mean(plans.planningMs.toSeq),
      "plans.index_join_fired" -> perPass(c.indexJoins),
      "plans.grid_join_fired" -> perPass(c.gridJoins),
      "plans.bbox_filters_pushed" -> perPass(c.bboxFilters),
      "plans.bnlj_fallbacks" -> perPass(c.bnlj),
      "functions.codegen_fallback_count" -> perPass(c.codegenFallback))
  }
}

/** Counts the input records Spark reads while `f` runs. */
object InputRows {
  def during(spark: SparkSession)(f: => Unit): Long = {
    val l = new EngineListener
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try f
    finally {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    l.inputRecords
  }
}
