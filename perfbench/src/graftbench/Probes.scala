package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel

import graft.geom._
import graft.spatial.STRtree

/**
 * Layer probes of a traced run, timed from outside the program: the geometry
 * kernels and the spatial index called directly, and the same operations
 * through the SQL expression layer.
 */
object Probes {

  /** geom.* kernels, and the functions.* expression cost of the two
    * reference harness mirrors (affine over 202 cities, explode over 45,000
    * MultiPoints). A mirror's kernel figure covers the whole row operation
    * the SQL function performs: WKB decode, the operation, WKB encode. */
  def kernels(ctx: Ctx): Map[String, Double] = {
    val cities = Gen.citiesFixture(ctx.seed)
    val multis = Gen.explodeFixture
    val affineNs = Clock.nsPerOp(cities.length * 500) { i =>
      WKB.write(AffineOps.translate(WKB.read(cities(i % cities.length)), 1.0, 2.0)).length
    }
    val explodeNs = Clock.nsPerOp(multis.length) { i =>
      Geometry.parts(WKB.read(multis(i))).map(p => WKB.write(p).length).sum
    }
    val mixed = (0 until 20000).iterator.map(i => Gen.mixedGeometry(ctx.seed, i)._1)
      .filter(_ != null).toArray
    val decoded = mixed.map(WKB.read)
    val n = mixed.length
    val spark = ctx.spark.newSession()
    Session.register(spark)
    // the fixtures repeated so each timed job's fixed cost is small beside its work
    val affineExpr = exprNsPerRow(spark, cities, 5000, "st_translate(geometry, 1.0, 2.0)")
    val explodeExpr = exprNsPerRow(spark, multis, 20, "explode(st_dump(geometry))")
    Map(
      "geom.affine_ns" -> affineNs,
      "geom.explode_ns" -> explodeNs,
      "geom.wkb_read_ns" -> Clock.nsPerOp(n)(i => WKB.read(mixed(i)).numPoints),
      "geom.wkb_write_ns" -> Clock.nsPerOp(n)(i => WKB.write(decoded(i)).length),
      "geom.measure_ns" -> Clock.nsPerOp(n) { i =>
        val g = decoded(i); Algos.area(g) + Algos.length(g) + Algos.centroid(g).x
      },
      "geom.simplify_ns" -> Clock.nsPerOp(n)(i => Algos.simplify(decoded(i), 0.01).numPoints),
      "geom.geodesic_ns" -> Clock.nsPerOp(n)(i =>
        Geodesy.geodesicLength(decoded(i), Geodesy.Method.Geodesic)),
      "functions.expr_ns_per_row" -> affineExpr,
      "functions.jvm_overhead_ratio" -> affineExpr / affineNs,
      "functions.explode_expr_ns_per_row" -> explodeExpr,
      "functions.explode_jvm_overhead_ratio" -> explodeExpr / explodeNs)
  }

  /** Projection time of `projection` minus a bare scan of the same cached
    * rows, per row, over `copies` copies of `fixture`; medians of seven runs
    * each, through the noop sink. */
  def exprNsPerRow(spark: SparkSession, fixture: Array[Array[Byte]], copies: Int,
      projection: String): Double = {
    import spark.implicits._
    val n = fixture.length
    val rows = n.toLong * copies
    val df = spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
      .map(i => fixture((i % n).toInt)).toDF("geometry")
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    def time(d: DataFrame): Double = {
      d.write.format("noop").mode("overwrite").save() // warm-up
      Stats.median((1 to 7).map(_ => Clock.seconds(d.write.format("noop").mode("overwrite").save())._2))
    }
    val bare = time(df.select("geometry"))
    val proj = time(df.select(expr(projection)))
    df.unpersist()
    (proj - bare) * 1e9 / rows
  }

  /** spatial.* and geom.pip_ns: STR-tree build, probe and k-nearest search
    * over the spatial_join generator's polygons and points. */
  def spatial(ctx: Ctx): Map[String, Double] = {
    val hs = new Gen.Hotspots(ctx.seed)
    val polys = Array.tabulate(SpatialJoinBench.Polygons)(i => Gen.polygon(ctx.seed, hs, i, 5))
    val envs = polys.map(_.envelope)
    val pts = Array.tabulate(20000) { i => val (x, y) = Gen.point(ctx.seed, hs, i); Point(x, y) }
    val buildMs = Stats.median((1 to 5).map(_ => Clock.seconds(STRtree.build(envs))._2 * 1e3))
    val tree = STRtree.build(envs)
    val probeNs = Clock.nsPerOp(pts.length) { i =>
      var c = 0; tree.query(pts(i).envelope)(_ => c += 1); c.toDouble
    }
    val pairs = scala.collection.mutable.ArrayBuffer[(Point, Polygon)]()
    pts.foreach(p => tree.query(p.envelope)(j => pairs += (p -> polys(j))))
    val matches = pairs.count { case (p, g) => Algos.contains(g, p) }
    val pipNs = Clock.nsPerOp(pairs.size) { k =>
      val (p, g) = pairs(k); if (Algos.contains(g, p)) 1.0 else 0.0
    }
    val knnNs = Clock.nsPerOp(2000, reps = 3) { i =>
      val p = pts(i)
      tree.nearestK(p.envelope, 5)(j => Algos.distance(p, polys(j))).length
    }
    Map(
      "spatial.index_build_ms" -> buildMs,
      "spatial.probe_ns" -> probeNs,
      "spatial.candidates_per_probe" -> pairs.size.toDouble / pts.length,
      "spatial.refine_ratio" -> matches.toDouble / math.max(pairs.size, 1),
      "spatial.knn_ns" -> knnNs,
      "geom.pip_ns" -> pipNs)
  }
}
