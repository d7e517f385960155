package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoArrow

/**
 * Micro-bench for the WKB-vs-GeoArrow-struct STORAGE encoding (SURVEY §1.2
 * phase 2): both encodings are materialized (cached), then the same logical
 * computation runs against each — the WKB path decodes geometry per op, the
 * struct path is pure codegen arithmetic (Catalyst collapses the
 * getField/struct chains; see EncodingExplain). Rounds interleave the two
 * paths so GC/JIT drift cancels.
 *
 * Run: sbt "runMain graft.tools.EncodingBench [sfDir]"
 */
object EncodingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local("32", "ERROR", Seq("spark.sql.shuffle.partitions" -> "32"))
    graft.functions.GeoRegistry.register(spark)

    val base = spark.read.parquet(s"$sfDir/customer.parquet").selectExpr(
      "c_custkey",
      "st_point(cast(c_custkey % 360 - 180 as double), " +
        "cast((c_custkey * 7) % 160 - 80 as double)) AS g",
      "st_makeenvelope(cast(c_custkey % 360 - 180 as double), " +
        "cast((c_custkey * 7) % 160 - 80 as double), " +
        "cast(c_custkey % 360 - 180 as double) + 2.0, " +
        "cast((c_custkey * 7) % 160 - 80 as double) + 2.0) AS env0")
      .selectExpr("c_custkey", "g",
        // 33-vertex ring: decode cost scales with vertices, HOF cost too
        "st_minimumboundingcircle(env0) AS env")

    // the two STORAGE encodings, both materialized
    val wkbDf = base.select(col("c_custkey"), col("g"), col("env")).cache()
    val structDf = base.select(col("c_custkey"),
      GeoArrow.toPointStruct(col("g")).as("p"),
      expr("st_ringdump(env)").as("rings")).cache()
    wkbDf.count(); structDf.count()

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val n = 8
    val wkbExpr = (1 to n).foldLeft("g")((s, _) => s"st_translate($s, 1.5, 2.5)")
    val wkbAffine = wkbDf.selectExpr(s"st_x($wkbExpr) AS x")
    val structAffine = structDf.select(
      (1 to n).foldLeft(col("p"))((p, _) =>
        GeoArrow.translate(p, lit(1.5), lit(2.5))).getField("x").as("x"))
    val wkbMeasure = wkbDf.selectExpr(
      "st_area(env) AS a", "st_perimeter(env) AS p")
    val structMeasure = structDf.select(
      GeoArrow.polygonArea(col("rings")).as("a"),
      GeoArrow.polygonPerimeter(col("rings")).as("p"))

    val cases = Seq(
      "affine8/wkb" -> wkbAffine, "affine8/struct" -> structAffine,
      "areaPerim/wkb" -> wkbMeasure, "areaPerim/struct" -> structMeasure)
    // warmup round, then 5 interleaved timed rounds
    cases.foreach { case (_, df) => run(df) }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    (1 to 5).foreach { _ =>
      cases.foreach { case (tag, df) =>
        val t0 = System.nanoTime(); run(df)
        times(tag) = ((System.nanoTime() - t0) / 1e9) :: times.getOrElse(tag, Nil)
      }
    }
    cases.foreach { case (tag, _) =>
      val ts = times(tag)
      println(f"[encbench] $tag%-18s best=${ts.min}%.3f s " +
        s"(${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
    }
    println(f"[encbench] affine8 struct speedup:   ${times("affine8/wkb").min / times("affine8/struct").min}%.2fx")
    println(f"[encbench] areaPerim struct speedup: ${times("areaPerim/wkb").min / times("areaPerim/struct").min}%.2fx")
    spark.stop()
  }
}
