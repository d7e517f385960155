package graft

import org.apache.spark.sql.SparkSession

/** The one place the mains build their SparkSession. */
private[graft] object Sessions {

  /** A `local[cores]` session with the UI off, `confs` applied and the
    * log level set. */
  def local(cores: String, logLevel: String,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** What a session running catalog queries needs: `shufflePartitions`,
    * the UTC session time zone the oracle's naive timestamps assume, and
    * nanosecond parquet timestamps read as longs (`SparkEntry` converts
    * them back). */
  def catalogConfs(shufflePartitions: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")
}
