package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * GeoParquet-style IO helpers (SURVEY §2.1 / §4).
 *
 * The reference reads/writes geometry tables through its host's columnar IO
 * with GeoParquet-style `geo` metadata (reference: data/cities.arrow schema
 * metadata; io/file.py:15-119 pushes columns/where/bbox into the scanner).
 * Spark's parquet source already gives us column pruning + predicate
 * pushdown; what it cannot do is prune row groups by a SPATIAL predicate,
 * because min/max statistics on a WKB binary column are meaningless.
 *
 * The GeoParquet 1.1 answer is a "covering" bbox column: write a sibling
 * struct column `<geom>_bbox{xmin, ymin, xmax, ymax}`. Parquet keeps min/max
 * stats per row group for those doubles, so a filter like
 * `bbox.xmax >= qxmin AND bbox.xmin <= qxmax AND ...` skips every row group
 * whose extent cannot intersect the query window — that filter is derived
 * automatically from `st_intersects`/`st_contains`/`st_within` predicates by
 * [[graft.plans.BboxPruningRule]]. At 100 TB this is the difference between
 * scanning the world and scanning the tiles the query touches.
 *
 * `write` sorts within partitions by the Hilbert-curve key of each bbox
 * center, so row groups hold spatially adjacent rows and their extents
 * stay tight in x and y alike.
 */
object GeoParquet {

  /** Name convention for the covering column of `geomCol`. */
  def bboxColName(geomCol: String): String = s"${geomCol}_bbox"

  /** Add the GeoParquet 1.1 covering bbox struct for `geomCol`. */
  def withBboxCovering(df: DataFrame, geomCol: String = "geometry"): DataFrame =
    df.withColumn(
      bboxColName(geomCol),
      struct(
        expr(s"st_xmin($geomCol)").as("xmin"),
        expr(s"st_ymin($geomCol)").as("ymin"),
        expr(s"st_xmax($geomCol)").as("xmax"),
        expr(s"st_ymax($geomCol)").as("ymax")))

  /** Order-16 Hilbert curve index of (x, y) scaled into the lon/lat
    * world extent — the classic iterative xy→d walk (public domain,
    * Wikipedia "Hilbert curve"). Unlike an (xmin, ymin) lexicographic
    * sort, consecutive Hilbert positions are ALWAYS spatially adjacent in
    * both axes, so row groups written in this order get tight bboxes in x
    * AND y and the covering stats prune correspondingly better. */
  private[sources] def hilbertIndex(x: Double, y: Double): Long = {
    val order = 16
    val n = 1L << order
    val xi0 = ((x + 180.0) / 360.0 * n).toLong
    val yi0 = ((y + 90.0) / 180.0 * n).toLong
    var xi = math.max(0L, math.min(n - 1, xi0))
    var yi = math.max(0L, math.min(n - 1, yi0))
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((xi & s) > 0) 1L else 0L
      val ry = if ((yi & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate quadrant
      if (ry == 0) {
        if (rx == 1) { xi = s - 1 - xi; yi = s - 1 - yi }
        val t = xi; xi = yi; yi = t
      }
      s >>= 1
    }
    d
  }

  /**
   * Write `df` as parquet with a bbox covering column, spatially clustered
   * within partitions along a Hilbert space-filling curve of the bbox
   * center so the covering stats prune effectively in both axes. (The
   * curve key is computed once per row in the write path only — it is
   * never part of a query loop.)
   */
  def write(df: DataFrame, path: String, geomCol: String = "geometry",
            mode: String = "overwrite"): Unit =
    withHilbert(withBboxCovering(df, geomCol), geomCol)
      .sortWithinPartitions(col("__hilbert"))
      .drop("__hilbert")
      .write.mode(mode).parquet(path)

  /** Read a geo parquet table (covering column, if present, stays visible
    * for the pruning rule; drop it with `.drop(bboxColName(...))` if
    * unwanted). Partition-column type inference is pinned OFF for the
    * read: an all-digit geohash cell directory set (cells '0'-'9' are
    * valid base32) would otherwise come back as INT, breaking string
    * cell predicates and zero-padded round-trips. Schema resolution is
    * eager, so restoring the conf afterwards is safe. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Order-16 Hilbert key of the bbox center (null-guarded) — shared by
    * both write paths. */
  private val hilbertUdf = udf((xmin: java.lang.Double, ymin: java.lang.Double,
                                xmax: java.lang.Double, ymax: java.lang.Double) =>
    if (xmin == null || ymin == null || xmax == null || ymax == null) 0L
    else hilbertIndex((xmin + xmax) / 2, (ymin + ymax) / 2))

  private def withHilbert(df: DataFrame, geomCol: String): DataFrame = {
    val bb = bboxColName(geomCol)
    df.withColumn("__hilbert", hilbertUdf(
      col(s"$bb.xmin"), col(s"$bb.ymin"), col(s"$bb.xmax"), col(s"$bb.ymax")))
  }

  /** Name convention for the geohash partition column of `geomCol`. */
  def cellColName(geomCol: String): String = s"${geomCol}_cell"

  /**
   * Write a HIVE-PARTITIONED spatial layout: one directory per geohash
   * cell of the geometry's centroid (`<geom>_cell=<hash>/...`), with the
   * bbox covering column inside each file.
   *
   * This stacks three pruning layers for a 100 TB table:
   *   1. directory (partition) pruning — a predicate on the cell column
   *      never LISTS, let alone reads, other cells' files;
   *   2. parquet row-group pruning via the bbox covering stats;
   *   3. ordinary column pruning / predicate pushdown.
   * Pick `precision` so cells hold ~one file's worth of rows
   * (1 char = 32 world cells ... 4 chars = ~1M).
   */
  def writeCellPartitioned(
      df: DataFrame,
      path: String,
      geomCol: String = "geometry",
      precision: Int = 2,
      mode: String = "overwrite"): Unit = {
    val cell = cellColName(geomCol)
    withHilbert(
      withBboxCovering(df, geomCol)
        .withColumn(cell, expr(s"st_geohash(st_centroid($geomCol), $precision)"))
        .repartition(col(cell)),
      geomCol)
      .sortWithinPartitions(col("__hilbert"))
      .drop("__hilbert")
      .write.mode(mode).partitionBy(cell).parquet(path)
  }
}
