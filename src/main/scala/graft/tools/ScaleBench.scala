package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Scale proof-point harness: times each query at two scale factors inside
 * ONE warm JVM, interleaved (sf, sfx, sf, sfx, ...), so JIT/GC/session
 * effects cancel and the ratio isolates PLAN scaling. A plan that holds at
 * scale shows ratio ~ data factor (linear) or below; super-linear ratios
 * flag shapes that would not survive 100x.
 *
 * Run: sbt "runMain graft.tools.ScaleBench <sfDir> <sfxDir> q1 q2 ..."
 */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sfxDir = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Sessions.local("32", "ERROR", graft.Sessions.catalogConfs("32") :+
      ("spark.driver.memory" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "32g")))

    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntryAccess(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[scalebench] $name@$dir failed: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    val rounds = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val results = names.sorted.map { name =>
      // warmup both scales once, then interleaved timed rounds
      once(name, sfDir); once(name, sfxDir)
      val (b, x) = (Array.fill(rounds)(0.0), Array.fill(rounds)(0.0))
      var i = 0
      while (i < rounds) {
        b(i) = once(name, sfDir)
        x(i) = once(name, sfxDir)
        i += 1
      }
      System.gc()
      val (bm, xm) = (b.min, x.min)
      println(f"[scalebench] $name%-26s base=$bm%7.2f scaled=$xm%8.2f ratio=${xm / bm}%5.1fx")
      (name, bm, xm)
    }
    val qs = results.map { case (k, b, x) =>
      f""""$k":{"base":$b%.3f,"scaled":$x%.3f,"ratio":${x / b}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ratio","base":"$sfDir","scaled":"$sfxDir","queries":$qs}""")
    spark.stop()
  }

  private object SparkEntryAccess {
    def apply(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      graft.SparkEntry.queries(name)
  }
}
