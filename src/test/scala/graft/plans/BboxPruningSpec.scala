package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, IsNotNull}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GraftExtensions
import graft.sources.GeoParquet

/**
 * GeoParquet covering-column write + BboxPruningRule: a spatial filter over
 * a geo parquet table must turn into pushed double-range predicates on the
 * bbox struct (visible in the scan's PushedFilters) while returning exactly
 * the rows the spatial predicate selects. The ranges are enforced by the
 * parquet reader only: the Filter above the scan keeps the exact predicate
 * and no range constant, so windows share their generated code.
 */
class BboxPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("geoparquet").toFile
    d.deleteOnExit()
    val path = d.getAbsolutePath + "/pts"
    // 1000 points on a line y = x, x in [0, 999]
    val df = spark.range(1000).selectExpr(
      "id", "st_point(cast(id as double), cast(id as double)) AS geometry")
    GeoParquet.write(df, path)
    path
  }

  private def scanString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("written table carries the covering struct") {
    val df = GeoParquet.read(spark, dir)
    assert(df.columns.contains("geometry_bbox"))
    val r = df.selectExpr("min(geometry_bbox.xmin)", "max(geometry_bbox.xmax)").collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 999.0)
  }

  test("st_intersects(geom, lit) derives pushed bbox ranges and keeps exact results") {
    val df = GeoParquet.read(spark, dir)
      .filter("st_intersects(geometry, st_makeenvelope(100.0, 100.0, 110.0, 110.0))")
    val plan = scanString(df)
    assert(plan.contains("PushedFilters") &&
      (plan.contains("xmin") || plan.contains("xmax")), plan)
    assert(df.count() == 11) // 100..110 inclusive (boundary intersects)
  }

  test("st_within(geom, lit) prunes and filters exactly") {
    val df = GeoParquet.read(spark, dir)
      .filter("st_within(geometry, st_makeenvelope(0.0, 0.0, 50.0, 50.0))")
    assert(scanString(df).contains("xmin"))
    assert(df.count() == 49) // strictly inside: 1..49
  }

  test("st_dwithin expands the window by the distance") {
    val df = GeoParquet.read(spark, dir)
      .filter("st_dwithin(geometry, st_point(500.0, 500.0), 7.0)")
    assert(scanString(df).contains("xmax"))
    // |(x,x)-(500,500)| <= 7  =>  |x-500|*sqrt(2) <= 7  =>  x in [496, 504]
    assert(df.count() == 9)
  }

  test("rule is idempotent (no conjunct explosion)") {
    val df = GeoParquet.read(spark, dir)
      .filter("st_intersects(geometry, st_makeenvelope(1.0, 1.0, 2.0, 2.0))")
    val optimized = df.queryExecution.optimizedPlan.toString
    // 4 derived range conjuncts, each exactly once
    assert(optimized.split("xmin").length - 1 <= 2, optimized) // one in GetStructField ref per side
    assert(df.count() == 2)
  }

  test("tables without a covering column are untouched") {
    val plain = spark.range(10).selectExpr("st_point(cast(id as double), 0.0) AS geometry")
    val df = plain.filter("st_intersects(geometry, st_makeenvelope(0.0, -1.0, 5.0, 1.0))")
    assert(df.count() == 6)
  }

  /** The same 1000 points plus one NULL-geometry and one empty-geometry row. */
  private lazy val withBlanks: String = {
    val d = Files.createTempDirectory("geoparquet-blanks").toFile
    d.deleteOnExit()
    val path = d.getAbsolutePath + "/pts"
    val df = spark.range(1002).selectExpr("id",
      """CASE WHEN id = 1000 THEN CAST(NULL AS BINARY)
              WHEN id = 1001 THEN st_geomfromtext('POINT EMPTY')
              ELSE st_point(cast(id as double), cast(id as double)) END AS geometry""")
    GeoParquet.write(df, path)
    path
  }

  private def filters(plan: SparkPlan): Seq[FilterExec] = plan.collect { case f: FilterExec => f }

  private def rangeConjuncts(f: FilterExec): Seq[String] =
    SpatialJoinStrategy.splitConjuncts(f.condition).collect {
      case c: BinaryComparison if c.references.exists(_.name.endsWith("_bbox")) => c.sql
    }

  private def pushedFilters(plan: SparkPlan): String =
    plan.collectFirst { case s: FileSourceScanExec => s.metadata("PushedFilters") }.get

  private val windowRanges = Seq(
    "GreaterThanOrEqual(geometry_bbox.xmax,100.0)", "LessThanOrEqual(geometry_bbox.xmin,110.0)",
    "GreaterThanOrEqual(geometry_bbox.ymax,100.0)", "LessThanOrEqual(geometry_bbox.ymin,110.0)")

  test("windows with different envelopes share their generated code") {
    def window(lo: Double, hi: Double): DataFrame = GeoParquet.read(spark, dir)
      .filter(s"st_intersects(geometry, st_makeenvelope($lo, $lo, $hi, $hi))")
    val a = window(100.0, 110.0)
    val b = window(300.5, 420.25)
    val planA = a.queryExecution.executedPlan
    val codeA = codegenStringSeq(planA).map(_._2)
    val codeB = codegenStringSeq(b.queryExecution.executedPlan).map(_._2)
    assert(codeA.nonEmpty)
    assert(codeA == codeB)
    // the ranges left the post-scan filter but still reach the reader
    val fs = filters(planA)
    assert(fs.nonEmpty && fs.forall(rangeConjuncts(_).isEmpty), planA)
    assert(fs.forall(_.condition.sql.contains("st_intersects")), planA)
    val pushed = pushedFilters(planA)
    windowRanges.foreach(r => assert(pushed.contains(r), pushed))
    assert(a.count() == 11 && b.count() == 120)
  }

  test("st_contains(lit, g) and blank geometries match the unpruned counts") {
    val table = GeoParquet.read(spark, withBlanks)
    // brute force: the same predicates over the table without its covering column
    val plain = table.drop(GeoParquet.bboxColName("geometry"))
    Seq(
      "st_contains(st_makeenvelope(10.0, 10.0, 60.0, 60.0), geometry)" -> 49L,
      "st_within(geometry, st_makeenvelope(0.0, 0.0, 50.0, 50.0))" -> 49L,
      "st_dwithin(geometry, st_point(500.0, 500.0), 7.0)" -> 9L,
      "st_dwithin(st_point(999.0, 999.0), geometry, 1.5)" -> 2L
    ).foreach { case (pred, want) =>
      val pruned = table.filter(pred)
      assert(pushedFilters(pruned.queryExecution.executedPlan).contains("geometry_bbox"), pred)
      assert(filters(pruned.queryExecution.executedPlan).forall(rangeConjuncts(_).isEmpty), pred)
      assert(pruned.count() == want, pred)
      assert(plain.filter(pred).count() == want, pred)
    }
  }

  test("a session built with GraftExtensions plans the same stripped filter") {
    // spark.sql.extensions is read from the SparkContext's conf, which is
    // fixed once the shared context runs; withExtensions applies the same class
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    val window = "st_intersects(geometry, st_makeenvelope(100.0, 100.0, 110.0, 110.0))"
    try {
      val df = ext.read.parquet(dir).filter(window)
      val plan = df.queryExecution.executedPlan
      val registered = GeoParquet.read(spark, dir).filter(window).queryExecution.executedPlan
      // the extension runs the rule inside operator optimization, where Spark
      // also infers IsNotNull guards from the ranges; they carry no constant
      def kept(p: SparkPlan): Seq[String] = filters(p).flatMap(f =>
        SpatialJoinStrategy.splitConjuncts(f.condition).filterNot(_.isInstanceOf[IsNotNull]).map(_.sql))
      assert(kept(plan).nonEmpty && kept(plan) == kept(registered), plan)
      assert(filters(plan).forall(rangeConjuncts(_).isEmpty), plan)
      val pushed = pushedFilters(plan)
      windowRanges.foreach(r => assert(pushed.contains(r), pushed))
      assert(df.count() == 11)
    } finally { SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark) }
  }
}
