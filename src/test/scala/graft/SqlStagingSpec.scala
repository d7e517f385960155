package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlStagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sql =
    """WITH base AS (
      |  SELECT id, id % 3 AS k, cast(id * 2 as bigint) AS v FROM range(100)),
      |agg AS (SELECT k, sum(v) AS sv, count(*) AS n FROM base GROUP BY k),
      |top AS (SELECT k, sv FROM agg WHERE sv > (SELECT min(sv) FROM agg))
      |SELECT b.k, count(*) AS cnt, max(t.sv) AS msv
      |FROM base b JOIN top t ON t.k = b.k
      |GROUP BY b.k ORDER BY b.k""".stripMargin

  test("parseCtes finds every top-level CTE and the final query") {
    val (ctes, finalAt) = SqlStaging.parseCtes(sql)
    assert(ctes.map(_.name) == Seq("base", "agg", "top"))
    assert(sql.substring(finalAt).startsWith("SELECT b.k"))
    // body offsets exclude the wrapping parens
    val b = ctes.head
    assert(sql.substring(b.bodyStart, b.bodyEnd).trim.startsWith("SELECT id"))
    assert(sql.charAt(b.bodyEnd) == ')')
  }

  test("parser is quote-aware: parens inside string literals do not split") {
    val q = "WITH a AS (SELECT '(' AS p, ')(' AS q FROM range(3)) SELECT count(*) AS c FROM a"
    val (ctes, _) = SqlStaging.parseCtes(q)
    assert(ctes.map(_.name) == Seq("a"))
    val out = SqlStaging.run(spark, q, Seq("a"), "spec_quote").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("malformed text fails loudly instead of mis-splitting") {
    intercept[IllegalArgumentException](SqlStaging.parseCtes("SELECT 1"))
    intercept[IllegalArgumentException](
      SqlStaging.run(spark, sql, Seq("nope"), "spec_bad"))
  }

  test("staged execution returns exactly the unstaged rows, for every cut set") {
    val expected = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    for (cuts <- Seq(Seq("base"), Seq("agg"), Seq("base", "agg"),
                     Seq("base", "agg", "top"), Seq("agg", "base") /* order-insensitive */)) {
      val got = SqlStaging.run(spark, sql, cuts, s"spec_${cuts.mkString("_")}")
        .collect().map(_.toString).sorted.toSeq
      assert(got == expected, s"cut set $cuts diverged")
    }
  }

  test("run leaves no staged view behind, and the result still reads the checkpoints") {
    val df = SqlStaging.run(spark, sql, Seq("base", "agg", "top"), "spec_drop")
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__stg_spec_drop_"))
    assert(left.isEmpty, s"staged views left: ${left.mkString(",")}")
    val expected = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq == expected)
  }

  test("staged plan reads the checkpoint, not the source, in the tail") {
    val df = SqlStaging.run(spark, sql, Seq("base", "agg"), "spec_plan")
    val plan = df.queryExecution.optimizedPlan.toString
    // the staged tail must contain no Range source: both base references
    // resolve to the checkpointed view
    assert(!plan.contains("Range (0, 100"), s"tail still scans the source:\n$plan")
  }
}
