package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.geom._
import graft.sources.GeoParquet
import graft.spatial.SpatialJoin

/**
 * spatial_join: clustered points and mixed-size polygons in GeoParquet,
 * joined through every spatial join path the program plans (SQL index join,
 * the SpatialJoin API in left and semi mode, the grid join for two large
 * sides, k-nearest neighbours), then a stream of window queries whose bbox
 * filters prune the GeoParquet read.
 */
final class SpatialJoinBench(ctx: Ctx) extends Workload(ctx) {
  import SpatialJoinBench._

  private val dir = new File(ctx.work, "spatial_join")
  private def path(name: String) = new File(dir, name).getAbsolutePath
  private val hs = new Gen.Hotspots(ctx.seed)
  private var rawWkbBytes = 0L
  private var parquetBytes = 0L
  private var writeS = Seq.empty[Double]

  // the GeoParquet tables, read once per set-up like a user's session would
  private var points, polys, polys2: DataFrame = _

  def setup(): Unit = {
    val spark = freshSession()
    val seed = ctx.seed
    val h = hs
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("geometry", BinaryType, nullable = false)))
    def write(name: String, n: Long)(wkb: Long => Array[Byte]): Unit = {
      val rows = spark.sparkContext.range(0, n, numSlices = ctx.cores).map(id => Row(id, wkb(id)))
      val df = spark.createDataFrame(rows, schema)
      val (_, s) = Clock.seconds(GeoParquet.write(df, path(name)))
      writeS :+= s
    }
    writeS = Seq.empty
    // Row groups of 256 KiB give the point file dozens of them, as a file
    // a hundred times larger has at Parquet's default size; the covering
    // bbox statistics prune at row-group granularity.
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 256 * 1024)
    write("points", Points) { id => val (x, y) = Gen.point(seed, h, id); WKB.write(Point(x, y)) }
    write("polygons", Polygons)(id => WKB.write(Gen.polygon(seed, h, id, 5)))
    write("polygons2", Polygons)(id => WKB.write(Gen.polygon(seed, h, id, 6)))
    rawWkbBytes = Points * 21 + Seq("polygons", "polygons2").map { n =>
      GeoParquet.read(spark, path(n)).selectExpr("sum(length(geometry))").head().getLong(0)
    }.sum
    parquetBytes = Seq("points", "polygons", "polygons2").map(n => fileBytes(path(n))).sum
    points = GeoParquet.read(spark, path("points"))
    polys = GeoParquet.read(spark, path("polygons"))
    polys2 = GeoParquet.read(spark, path("polygons2"))
    points.createOrReplaceTempView("pts")
    polys.createOrReplaceTempView("polys")
    polys.createOrReplaceTempView("pa")
    polys2.createOrReplaceTempView("pb")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def containsSql: DataFrame =
    session.sql("SELECT p.id AS pid, g.id AS gid FROM pts p JOIN polys g " +
      "ON st_contains(g.geometry, p.geometry)")

  /** Large-large intersects join: the broadcast threshold is lowered for its
    * planning so neither polygon side is broadcast-sized. */
  private def gridSql(f: DataFrame => Unit): Unit =
    withConf("spark.sql.autoBroadcastJoinThreshold", "1024") {
      f(session.sql("SELECT a.id AS aid, b.id AS bid FROM pa a JOIN pb b " +
        "ON st_intersects(a.geometry, b.geometry)"))
    }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = session.conf.getOption(key)
    session.conf.set(key, value)
    try f
    finally prev.fold(session.conf.unset(key))(session.conf.set(key, _))
  }

  private def leftJoin = SpatialJoin.join(points, polys, SpatialJoin.Predicate.Contains, "left")
  private def semiJoin = SpatialJoin.join(points, polys, SpatialJoin.Predicate.Contains, "semi")
  private def knn = SpatialJoin.knnJoin(points.filter(col("id") < KnnProbes), polys, 5, "id")

  /** Envelopes of the window stream every pass runs: for each selectivity
    * in turn, a window around a generated point, sized on a sample so it
    * holds about that share of the points. Repeating the stream each pass
    * lets Spark reuse each window's compiled code, as a dashboard that
    * re-issues its windows does; new literals would cost a Java compile per
    * query, whose speed drifts as the compiler itself warms up. */
  lazy val windows: Seq[Envelope] = {
    val sample = Array.tabulate(20000) { i => Gen.point(ctx.seed, hs, Points + i) }
    Array.tabulate(Windows) { w =>
      val share = Selectivities(w % Selectivities.size)
      val (cx, cy) = Gen.point(ctx.seed, hs, 2 * Points + w)
      var lo = 0.0; var hi = 360.0
      for (_ <- 1 to 30) {
        val mid = (lo + hi) / 2
        val n = sample.count { case (x, y) => math.abs(x - cx) <= mid && math.abs(y - cy) <= mid }
        if (n.toDouble / sample.length < share) lo = mid else hi = mid
      }
      Envelope(cx - hi, cy - hi, cx + hi, cy + hi)
    }.toSeq
  }

  /** Brute-force point count of each window, over every generated point. */
  lazy val windowCounts: Seq[Long] = {
    val all = Array.tabulate(Points.toInt)(i => Gen.point(ctx.seed, hs, i))
    windows.map(e => all.count { case (x, y) => e.contains(x, y) }.toLong)
  }

  /** Points in a window, counted. The scan packs the point files, about a
    * megabyte, into one task (minPartitionNum 1), as a small table is best
    * read: spread over one task per core, a window waited on the slowest of
    * four tasks, and on shared cores that wait moved its latency by more
    * than a fifth from run to run. */
  private def windowCount(e: Envelope): Long = {
    val wkt = f"POLYGON ((${e.minX}%.9f ${e.minY}%.9f, ${e.maxX}%.9f ${e.minY}%.9f, " +
      f"${e.maxX}%.9f ${e.maxY}%.9f, ${e.minX}%.9f ${e.maxY}%.9f, ${e.minX}%.9f ${e.minY}%.9f))"
    withConf("spark.sql.files.minPartitionNum", "1") {
      points.filter(expr(s"st_intersects(geometry, st_geomfromtext('$wkt'))")).count()
    }
  }

  def check(rec: Recorder): Long = {
    windowCounts // computed before any timing
    // brute force over a fixed sample of probe rows with the geometry kernels
    val polyGeoms = Array.tabulate(Polygons.toInt)(i => Gen.polygon(ctx.seed, hs, i, 5))
    val poly2Geoms = Array.tabulate(Polygons.toInt)(i => Gen.polygon(ctx.seed, hs, i, 6))
    val probeIds = (0L until Points by Points / CheckProbes).take(CheckProbes)
    def pt(id: Long): Point = { val (x, y) = Gen.point(ctx.seed, hs, id); Point(x, y) }
    val truth: Map[Long, Set[Long]] = probeIds.map { id =>
      val p = pt(id)
      id -> polyGeoms.indices.filter(j => Algos.contains(polyGeoms(j), p)).map(_.toLong).toSet
    }.toMap
    def pairsOf(df: DataFrame, a: String, b: String, ids: Seq[Long] = probeIds): Map[Long, Set[Long]] =
      df.filter(col(a).isin(ids: _*)).select(a, b).collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.filterNot(_.isNullAt(1)).map(_.getLong(1)).toSet }
    rec.check("SQL st_contains join = brute force on probe rows") {
      val got = pairsOf(containsSql, "pid", "gid")
      probeIds.forall(id => got.getOrElse(id, Set.empty) == truth(id))
    }
    rec.check("left join = brute force on probe rows") {
      val got = pairsOf(leftJoin, "id_left", "id_right")
      probeIds.forall(id => got.contains(id) && got(id) == truth(id))
    }
    rec.check("semi join = brute force on probe rows") {
      val got = semiJoin.filter(col("id").isin(probeIds: _*)).select("id").collect().map(_.getLong(0)).toSet
      probeIds.forall(id => got.contains(id) == truth(id).nonEmpty)
    }
    rec.check("grid intersects join = brute force on probe rows") {
      val probes = (0L until Polygons by Polygons / CheckProbes).take(CheckProbes)
      var got = Map.empty[Long, Set[Long]]
      gridSql(df => got = pairsOf(df, "aid", "bid", probes))
      probes.forall { a =>
        val want = poly2Geoms.indices
          .filter(j => Algos.intersects(polyGeoms(a.toInt), poly2Geoms(j))).map(_.toLong).toSet
        got.getOrElse(a, Set.empty) == want
      }
    }
    rec.check("knn join = brute force on probe rows") {
      val probes = (0L until KnnProbes by KnnProbes / 50).take(50)
      val got = knn.filter(col("id_left").isin(probes: _*)).select("id_left", "id_right", "knn_rank")
        .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
      probes.forall { id =>
        val p = pt(id)
        val want = polyGeoms.indices.map(j => (Algos.distance(p, polyGeoms(j)), j.toLong))
          .sorted.take(5).map(_._2)
        got.get(id).contains(want)
      }
    }
    // one untimed pass: the JIT warm-up of the join and window paths
    // outlasts the checks
    pass(rec, None)
    Points + 2L * Polygons
  }

  private var readRatios = Seq.empty[Double]

  override def timedPasses: Int = 2

  def pass(rec: Recorder, tracer: Option[Tracer]): Unit = {
    rec.op("sql_contains_join")(noop(containsSql))
    rec.op("left_join")(noop(leftJoin))
    rec.op("semi_join")(noop(semiJoin))
    rec.op("grid_join")(gridSql(noop))
    rec.op("knn_join")(noop(knn))
    val fileSize = fileBytes(path("points")).toDouble
    windows.indices.foreach { w =>
      val e = windows(w)
      val count = tracer match {
        case Some(t) =>
          t.drain()
          val before = t.engine.inputBytes
          val c = rec.op("window")(windowCount(e))
          t.drain()
          readRatios :+= (t.engine.inputBytes - before) / fileSize
          c
        case None => rec.op("window")(windowCount(e))
      }
      count.foreach(c => rec.check(s"window $w count = brute force")(c == windowCounts(w)))
    }
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] =
    Map(
      "sources.storage_ratio" -> parquetBytes.toDouble / rawWkbBytes,
      "sources.read_bytes_ratio" -> Stats.median(readRatios),
      "sources.write_mb_per_s" -> parquetBytes / 1048576.0 / writeS.sum,
      "spatial.grid_replication" -> tracer.perPass(tracer.plans.counts.gridCellRows) / (2.0 * Polygons))
}

object SpatialJoinBench {
  val Points = 50000L
  val Polygons = 5000
  val KnnProbes = 20000L
  val Windows = 36
  val Selectivities = Seq(0.001, 0.01, 0.1)
  val CheckProbes = 200

  def fileBytes(dir: String): Long =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum
}
