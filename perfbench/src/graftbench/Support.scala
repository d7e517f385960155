package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.special.Beta

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile q: a Beta-weighted mean of every
    * order statistic; NaN on no samples. The sample quantile jumps to the
    * next value when one operation crosses it, and the latencies of a
    * workload's distinct operations have gaps: a catalog pass's median sat
    * between a cluster near 0.2 s and one near 0.3 s and swung by a quarter
    * from run to run. This estimate moves smoothly instead. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  /** Linear-interpolated quantile (numpy's default); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail percentile every workload reports. A pass of every workload
    * runs at least TailSamples operations, so ten or more lie beyond it; it
    * is fixed, not the highest such percentile, so a change in the number of
    * operations does not change the percentile. */
  val TailPercentile = 75.0
  val TailSamples = 40

  /** Each operation's fastest latency over passes that run the same
    * operations in the same order; a failed operation (NaN) is skipped. */
  def bestOf(passes: Seq[Seq[Double]]): Seq[Double] =
    (0 until passes.map(_.size).maxOption.getOrElse(0))
      .flatMap(j => passes.flatMap(_.lift(j)).filterNot(_.isNaN).minOption)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Times the benchmark's calls into the program; each call is one operation. */
final class Recorder {
  val latencies = ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L

  /** Runs `f` as one operation; a thrown error counts as a failure and
    * records a NaN latency, so operations keep their place in a pass. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      latencies += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        latencies += Double.NaN
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** An output check: a false result or an error counts as a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable => System.err.println(s"[perfbench] check $name raised $e"); false
    }
    if (!passed) { failed += 1; System.err.println(s"[perfbench] check $name FAILED") }
  }
}

object Clock {
  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Nanoseconds per call of `body(i)` for i in [0, n): the minimum over
    * `reps` timed sweeps after one warm-up sweep. `sink` keeps the JIT
    * from dropping the work. */
  def nsPerOp(n: Int, reps: Int = 5)(body: Int => Double): Double = {
    var sink = 0.0
    def sweep(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    sweep()
    val best = (1 to reps).map(_ => sweep()).min
    if (sink == 42.4242) System.err.println("") // a use of sink the JIT cannot prove dead
    best
  }
}

object Memory {
  /** Heap in use right after a full collection, in MiB: what the workload
    * keeps alive (cached tables, broadcasts, checkpoint blocks). */
  def retainedHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Peak resident set size of this process in MiB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
