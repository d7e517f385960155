package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/**
 * Per-job time profile for one catalog query (guide §1.1/§1.5): runs the
 * named query against SPARK_GRAFT_SF_DIR through the noop sink with a
 * listener recording every job's wall-clock and stage names, so a
 * multi-checkpoint query's cost can be attributed to its blocking jobs
 * without the (disabled) UI. Diagnostic only — not part of the bench.
 */
object JobProbe {
  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus, "ERROR", graft.Sessions.catalogConfs(cpus))
    graft.SparkEntry.init(spark)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties.getProperty("spark.job.description"))
          .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse(""))
        starts.put(js.jobId, (System.nanoTime(), desc.take(90)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"[job ${je.jobId}%3d] ${ms}%8.1f ms  $desc")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- args; run <- 1 to sys.env.getOrElse("PROBE_RUNS", "2").toInt) {
      println(s"===== $name run $run")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"===== $name run $run total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
