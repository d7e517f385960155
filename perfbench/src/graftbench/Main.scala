package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark workload. The runner calls `setup` several times, then
  * `check` once, then `pass` at least `timedPasses` times and until the
  * time budget is used. */
abstract class Workload(ctx: Ctx) {
  /** The session of the latest set-up; its state is what passes use. */
  var session: SparkSession = ctx.spark

  /** Starts a fresh session state and runs the program's registration on it. */
  protected def freshSession(): SparkSession = {
    session = ctx.spark.newSession()
    Session.register(session)
    session
  }

  /** Generates and writes the inputs; each call redoes the whole set-up,
    * starting from `freshSession()`. */
  def setup(): Unit
  /** Untimed: checks every output and runs at least one warm-up pass.
    * Returns the input rows one pass processes. */
  def check(rec: Recorder): Long
  /** One timed pass; each call into the program is one `rec.op`. */
  def pass(rec: Recorder, tracer: Option[Tracer]): Unit
  /** Passes an untraced run times; each operation's latency is its fastest
    * over them. */
  def timedPasses: Int = 1
  /** Per-layer metrics this workload measures itself, after its traced passes. */
  def layerMetrics(tracer: Tracer): Map[String, Double]
}

final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: File)

object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "retained_heap_mb" -> "MiB")

  val perLayer: Seq[(String, String)] = Seq(
    "geom.wkb_read_ns" -> "ns", "geom.wkb_write_ns" -> "ns", "geom.affine_ns" -> "ns",
    "geom.explode_ns" -> "ns", "geom.measure_ns" -> "ns", "geom.simplify_ns" -> "ns",
    "geom.geodesic_ns" -> "ns", "geom.pip_ns" -> "ns",
    "functions.expr_ns_per_row" -> "ns", "functions.jvm_overhead_ratio" -> "ratio",
    "functions.explode_expr_ns_per_row" -> "ns", "functions.explode_jvm_overhead_ratio" -> "ratio",
    "functions.codegen_fallback_count" -> "count",
    "plans.planning_ms" -> "ms", "plans.index_join_fired" -> "count",
    "plans.grid_join_fired" -> "count", "plans.bbox_filters_pushed" -> "count",
    "plans.bnlj_fallbacks" -> "count",
    "spatial.index_build_ms" -> "ms", "spatial.probe_ns" -> "ns",
    "spatial.candidates_per_probe" -> "count", "spatial.refine_ratio" -> "ratio",
    "spatial.knn_ns" -> "ns", "spatial.grid_replication" -> "ratio",
    "sources.write_mb_per_s" -> "MiB/s", "sources.storage_ratio" -> "ratio",
    "sources.read_bytes_ratio" -> "ratio",
    "pipeline.lsh_precision" -> "ratio", "pipeline.ann_recall_at_k" -> "ratio",
    "pipeline.minhash_lsh_s" -> "s", "pipeline.simhash_s" -> "s",
    "pipeline.ivf_topk_s" -> "s", "pipeline.brute_topk_s" -> "s",
    "catalog.build_ms" -> "ms", "catalog.staged_jobs" -> "count", "catalog.exec_s" -> "s",
    "catalog.views_live" -> "count", "catalog.storage_mb" -> "MiB",
    "engine.jobs" -> "count", "engine.tasks" -> "count", "engine.sched_delay_s" -> "s",
    "engine.core_util" -> "ratio", "engine.gc_s" -> "s", "engine.shuffle_mb" -> "MiB",
    "engine.spill_mb" -> "MiB", "engine.task_skew" -> "ratio", "engine.peak_rss_mb" -> "MiB",
    "trace.overhead_s" -> "s")
}

object Main {
  private val usage =
    "usage: graftbench.Main --workload <spatial_join|catalog_mix> " +
      "--seed <n> --seconds <n> --trace <0|1>   (run from the repository root)"

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, { System.err.println(usage); sys.exit(2) })
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val work = new File(s".bench_build/work/$workload-$seed")

    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Clock.seconds(Session.start(cores, work))
    System.err.println(f"[perfbench] session start $sessionS%.2f s, local[$cores]")
    val ctx = Ctx(spark, seed, cores, work)
    val wl: Workload = workload match {
      case "spatial_join" => new SpatialJoinBench(ctx)
      case "catalog_mix" => new CatalogMix(ctx)
      case other => System.err.println(s"unknown workload $other; $usage"); sys.exit(2)
    }
    val line = try run(ctx, wl, seconds, trace)
    finally {
      spark.stop()
      deleteTree(work)
    }
    System.err.println(f"[perfbench] total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println(line)
  }

  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean): String = {
    val setups = (1 to 3).map(_ => Clock.seconds(wl.setup())._2)
    System.err.println(f"[perfbench] setups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val rec = new Recorder
    val (rowsPerPass, checkS) = Clock.seconds(wl.check(rec))
    System.err.println(f"[perfbench] checks $checkS%.2f s")
    val tracer = new Tracer(wl.session)
    // the operation latencies of each untraced and each traced pass
    val untraced, traced = ArrayBuffer[Seq[Double]]()
    // every pass starts after a full collection, so none pays for another's
    // garbage; listener events still queued would count as retained
    def retainedNow(): Double = { PerfbenchBus.drain(ctx.spark.sparkContext); Memory.retainedHeapMb() }
    var retained = retainedNow()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run alternates untraced and traced passes, as many of each as
    // an untraced run times, so both see the same warm state and their
    // difference is the tracing overhead
    var i = 0
    while (untraced.size < wl.timedPasses || (trace && traced.size < wl.timedPasses) || elapsed < seconds) {
      val isTraced = trace && i % 2 == 1
      val passRec = new Recorder
      if (isTraced) tracer.start()
      wl.pass(passRec, if (isTraced) Some(tracer) else None)
      if (isTraced) tracer.stop()
      rec.attempted += passRec.attempted
      rec.failed += passRec.failed
      (if (isTraced) traced else untraced) += passRec.latencies.toSeq
      retained = math.max(retained, retainedNow())
      i += 1
    }
    // Each operation at its fastest over the passes, as graft.Bench reports
    // best-of-N: on shared cores a core's speed swings by a quarter within
    // seconds, and a repeat that catches a fast moment is far steadier than
    // a mean. A pass's wall-clock is the time spent in its operations, so
    // output checks between operations do not count.
    val best = Stats.bestOf(untraced.toSeq)
    val wall = best.sum
    require(best.size >= Stats.TailSamples,
      s"${best.size} operations a pass, fewer than the ${Stats.TailSamples} op_tail_s needs")
    val tail = Stats.hdQuantile(best, Stats.TailPercentile / 100)
    def walls(ps: Seq[Seq[Double]]) = ps.map(p => f"${p.filterNot(_.isNaN).sum}%.2f").mkString(" ")
    System.err.println(f"[perfbench] ${untraced.size} untraced and ${traced.size} traced passes of " +
      f"${walls(untraced.toSeq)} / ${walls(traced.toSeq)} s; best of ${untraced.size}: wall $wall%.2f s, " +
      f"op_tail_s is p${Stats.TailPercentile}%.0f of ${best.size} ops")
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val v = Map(
          "setup_s" -> Stats.median(setups),
          "wall_s" -> wall,
          "rows_per_s" -> rowsPerPass / wall,
          "op_p50_s" -> Stats.hdQuantile(best, 0.5),
          "op_tail_s" -> tail,
          "retained_heap_mb" -> retained)
        Metrics.endToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val (probes, probeS) = Clock.seconds(Probes.kernels(ctx) ++ Probes.spatial(ctx) ++ wl.layerMetrics(tracer))
        System.err.println(f"[perfbench] layer probes $probeS%.2f s")
        val v = probes ++ tracer.engineMetrics(ctx.cores) ++ tracer.planMetrics +
          ("engine.peak_rss_mb" -> Memory.peakRssMb()) +
          ("trace.overhead_s" -> (Stats.bestOf(traced.toSeq).sum - wall))
        // a layer the workload leaves idle reports 0
        Metrics.perLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    metrics.foreach { case (n, u, x) => System.err.println(f"[perfbench] $n%-38s $x%.6g $u") }
    val body = metrics.map { case (n, u, x) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(x)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {$body}}"""
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Session {
  def start(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The program's own registration of its SQL functions and planner rules. */
  def register(spark: SparkSession): Unit = {
    graft.functions.GeoRegistry.register(spark)
    graft.pipeline.TextRegistry.register(spark)
  }
}
