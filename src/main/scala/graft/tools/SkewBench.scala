package graft.tools

import org.apache.spark.sql.DataFrame

/**
 * Hot-cell skew proof for the grid-partitioned spatial join
 * ([[graft.spatial.SpatialJoin.gridJoin]] / `GridJoinRule`). The grid plan
 * defers residual hot cells to AQE's skew-join split
 * (plans/GridJoinRule.scala:41); this harness measures when that deferral
 * actually helps — and when it can't — instead of taking it on faith.
 *
 * Two distinct skew modes, demonstrated separately:
 *
 * **B — byte skew** (one cell holds many LEFT rows, join fan-out stays
 * linear): the hot partition's shuffle input is many × the median in
 * BYTES — exactly what AQE's `OptimizeSkewedJoin` detects. Expectation:
 * `split_fired=true` and skew-on beats skew-off.
 *
 * **A — compute skew** (both sides dense in one cell → candidate pairs
 * grow quadratically, but the cell's input is only a few hundred KB):
 * AQE CANNOT see this — its skew detection is byte-based, and the hot
 * partition is byte-light. The mitigation that works is the WORK-level
 * knob: a finer `cellSize` subdivides the dense region so candidate
 * pairs shrink ~ (fine/coarse)² while side-0.01 boxes still land in O(1)
 * cells. Measured as coarse-vs-fine timing; `split_fired` is recorded
 * (expected false) to document the limitation honestly.
 *
 * All configs run `rounds` times interleaved in one warm JVM (min taken)
 * so JIT/GC effects cancel. Scenario B also runs at `scale`x bulk to
 * show the plan holds as data grows.
 *
 * Run: sbt "runMain graft.tools.SkewBench [nRows] [scale] [hotRows]"
 */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val scale = args.lift(1).map(_.toInt).getOrElse(10)
    val hotRows = args.lift(2).map(_.toInt).getOrElse(4000)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = graft.Sessions.local("32", "ERROR", Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.driver.memory" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "32g"),
      // local-bench thresholds: AQE only splits partitions over BOTH
      // skewedPartitionThresholdInBytes and factor (5) x median — at
      // cluster scale the defaults (256m) play the same role
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k",
      // the grid join exists for the regime where NEITHER side broadcasts;
      // at bench row counts AQE would otherwise convert the cell equi-join
      // to a broadcast join and there would be no shuffle to skew-split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    /** Extent side (in cells) holding bulk density at ~20 rows/cell: more
      * data covers more area — scaling rows at FIXED extent would grow
      * per-cell density and measure the quadratic per-cell term, not plan
      * scaling. */
    def extent(bulk: Long): Long = math.max(1L, math.ceil(math.sqrt(bulk / 20.0)).toLong)

    /** `hot` rows in the 1x1 cell at the origin + `bulk` uniform at
      * constant density — positions hash-derived: deterministic,
      * decorrelated across sides/scales via the salt. */
    def points(bulk: Long, hot: Long, salt: Int): DataFrame = {
      val ext = extent(bulk) * 1000
      spark.range(bulk + hot).selectExpr(
        "id",
        s"""CASE WHEN id < $hot
           |  THEN st_point(
           |    cast(abs(xxhash64(id, ${salt + 1})) % 1000 as double) / 1000.0,
           |    cast(abs(xxhash64(id, ${salt + 2})) % 1000 as double) / 1000.0)
           |  ELSE st_point(
           |    cast(abs(xxhash64(id, ${salt + 1})) % $ext as double) / 1000.0,
           |    cast(abs(xxhash64(id, ${salt + 2})) % $ext as double) / 1000.0)
           |END AS geometry""".stripMargin)
    }

    /** Same distribution as side-0.01 boxes (point-in-polygon is a
      * supported refine pair; point-point is not). */
    def boxes(bulk: Long, hot: Long, salt: Int): DataFrame =
      points(bulk, hot, salt).selectExpr("id",
        "st_makeenvelope(st_x(geometry), st_y(geometry), st_x(geometry) + 0.01, st_y(geometry) + 0.01) AS geometry")

    graft.functions.GeoRegistry.register(spark)

    def time(left: DataFrame, right: DataFrame, skewJoin: Boolean,
        cellSize: Double): (Double, Boolean) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      val joined = graft.spatial.SpatialJoin.gridJoin(
        left, right, cellSize = cellSize,
        leftIdCol = Some("id"), rightIdCol = Some("id"))
        .selectExpr("count(*) AS n")
      // collect() (1-row count aggregate) executes the Dataset's OWN
      // QueryExecution — df.write would plan a fresh one and leave this
      // qe's AQE plan unexecuted (isFinalPlan=false, no skew markers)
      val qe = joined.queryExecution
      val t0 = System.nanoTime()
      joined.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      // skew-split markers: SMJ/SHJ print "(skew=true)", AQEShuffleRead
      // prints "skewed" — either means OptimizeSkewedJoin fired
      val plan = qe.executedPlan.toString
      if (sys.env.contains("SPARK_GRAFT_DEBUG_PLAN")) System.err.println(plan)
      (sec, plan.contains("skew=true") || plan.contains("skewed"))
    }

    // ---- scenario B: byte skew (hot LEFT cell, bulk-only right side) ----
    val hotB = n / 2  // hot partition input many x the per-partition median
    def bOn() = time(points(n, hotB, 7), boxes(n, 0, 1013), skewJoin = true, 1.0)
    def bOff() = time(points(n, hotB, 7), boxes(n, 0, 1013), skewJoin = false, 1.0)
    def bBig() = time(points(n.toLong * scale, hotB, 7),
      boxes(n.toLong * scale, 0, 1013), skewJoin = true, 1.0)

    // ---- scenario A: compute skew (both sides dense in one cell) --------
    // three mitigations compared on the same data: none (salting off,
    // coarse grid), WORK-level cellSize, and the hot-cell SALTING now
    // built into gridJoin (threshold forced low so the 16M-pair cell
    // splits k=64 ways)
    def withSalt[A](thresh: Long)(f: => A): A = {
      spark.conf.set("graft.gridjoin.hotCellPairs", thresh.toString)
      try f finally spark.conf.unset("graft.gridjoin.hotCellPairs")
    }
    def aCoarse() = withSalt(0)(
      time(points(n, hotRows, 7), boxes(n, hotRows, 1013), skewJoin = true, 1.0))
    def aFine() = withSalt(0)(
      time(points(n, hotRows, 7), boxes(n, hotRows, 1013), skewJoin = true, 0.05))
    def aSalt() = withSalt(250000)(
      time(points(n, hotRows, 7), boxes(n, hotRows, 1013), skewJoin = true, 1.0))

    // warmup every shape once, then interleaved timed rounds
    bOn(); bOff(); aCoarse(); aFine(); aSalt()
    var (tOn, tOff, tBig, tCoarse, tFine, tSalt) =
      (Double.MaxValue, Double.MaxValue, Double.MaxValue, Double.MaxValue,
        Double.MaxValue, Double.MaxValue)
    var (splitOn, splitCoarse) = (false, false)
    (1 to rounds).foreach { _ =>
      val r1 = bOn(); tOn = math.min(tOn, r1._1); splitOn ||= r1._2
      val r2 = bOff(); tOff = math.min(tOff, r2._1)
      val r3 = aCoarse(); tCoarse = math.min(tCoarse, r3._1); splitCoarse ||= r3._2
      val r4 = aFine(); tFine = math.min(tFine, r4._1)
      val r5 = aSalt(); tSalt = math.min(tSalt, r5._1)
      System.gc()
    }
    val rBig = bBig(); tBig = rBig._1

    println(
      f"""{"metric":"grid_join_skew","bulk_rows":$n,"scale":$scale,""" +
      f""""byte_skew":{"hot_rows":$hotB,"sec_skew_on":$tOn%.2f,"sec_skew_off":$tOff%.2f,""" +
      f""""split_fired":$splitOn,"sec_${scale}x":$tBig%.2f,"ratio_${scale}x":${tBig / tOn}%.2f},""" +
      f""""compute_skew":{"hot_rows":$hotRows,"sec_cell1":$tCoarse%.2f,"sec_cell005":$tFine%.2f,""" +
      f""""fine_speedup":${tCoarse / tFine}%.2f,"sec_salted":$tSalt%.2f,""" +
      f""""salt_speedup":${tCoarse / tSalt}%.2f,"split_fired":$splitCoarse}}""")
    spark.stop()
  }
}
