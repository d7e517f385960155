package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog declaration and the two maps derived from it. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the declaration holds 682 distinct keys") {
    val keys = SparkEntry.catalog.map(_._1)
    val dups = keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
    assert(keys.size == 682)
  }

  test("queries and oracleSql have the same keys; confMutating names catalog queries") {
    spark
    val keys = SparkEntry.queries.keySet
    assert(keys == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.confMutating.subsetOf(keys))
  }

  test("the queries map is built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  // a Spark side whose entry forgot its `.withOracle(...)` leaves Spark SQL
  // as the oracle; these spellings do not run on DuckDB
  private val sparkOnly = Seq(
    "st_*(" -> """\bst_\w+\(""".r,
    "unix_micros(" -> """unix_micros\(""".r,
    " div " -> """ div """.r,
    "explode(" -> """explode\(""".r,
    "vec_dot(" -> """vec_dot\(""".r,
    "conv(" -> """conv\(""".r)

  test("no oracle text uses a Spark-only spelling") {
    spark
    val hits = for {
      (name, text) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      (spelling, re) <- sparkOnly if re.findFirstIn(text).isDefined
    } yield s"$name: $spelling"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
