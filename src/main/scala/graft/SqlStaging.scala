package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Mechanical CTE cut-point staging (optimization guide §1.2/§2.4/§3.3).
 *
 * Spark inlines every reference to a WITH-CTE, so a corpus-pass CTE
 * referenced k times re-executes its scan+join subtree k times (AQE stage
 * reuse only sometimes rescues it at runtime). This helper rewrites a
 * query text at RUNTIME, inside the timed region, without touching the
 * oracle text:
 *
 *   - for each requested cut point (a CTE name), in textual order, it
 *     truncates the WITH chain after that CTE, executes
 *     `WITH <prefix> SELECT * FROM <cut>` (earlier cuts already replaced
 *     by pass-throughs), `localCheckpoint()`s the result, and registers
 *     it as a query-private temp view `__stg_<tag>_<i>`;
 *   - the final text is the original with each staged CTE body replaced
 *     by `SELECT * FROM __stg_<tag>_<i>`; once it is analyzed, the views
 *     are dropped, so a checkpoint lives only as long as the result.
 *
 * Result equivalence is structural: each checkpoint materializes exactly
 * the rows the inlined CTE body would produce (same fragments, same
 * engine), and the tail consumes them under the original CTE names. The
 * oracle SQL is byte-identical to the unstaged form.
 *
 * The parser only accepts the shape the catalog generates — a flat
 * `WITH name AS (body), ... <final SELECT>` with balanced parens and
 * single-quoted strings — and fails loudly (require) on anything else,
 * so a drifting fragment can never silently mis-split (ADVICE r08: no
 * silent string surgery).
 */
private[graft] object SqlStaging {

  final case class Cte(name: String, bodyStart: Int, bodyEnd: Int)

  /** Parse the top-level CTE list of `WITH a AS (...), b AS (...) SELECT ...`.
    * Returns the CTEs (body offsets EXCLUDE the wrapping parens) and the
    * offset where the final query starts. */
  def parseCtes(sql: String): (Seq[Cte], Int) = {
    val n = sql.length
    def skipWs(i0: Int): Int = {
      var i = i0; while (i < n && sql.charAt(i).isWhitespace) i += 1; i
    }
    var i = skipWs(0)
    require(i + 4 <= n && sql.regionMatches(true, i, "WITH", 0, 4),
      s"stagedSql: text does not start with WITH: ${sql.take(60)}")
    i = skipWs(i + 4)
    val out = Seq.newBuilder[Cte]
    var done = false
    while (!done) {
      val ns = i
      while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
      val name = sql.substring(ns, i)
      require(name.nonEmpty, s"stagedSql: expected CTE name at offset $ns")
      i = skipWs(i)
      require(sql.regionMatches(true, i, "AS", 0, 2),
        s"stagedSql: expected AS after CTE '$name'")
      i = skipWs(i + 2)
      require(i < n && sql.charAt(i) == '(',
        s"stagedSql: expected ( after '$name AS'")
      val bodyStart = i + 1
      // balanced-paren scan, single-quote-string aware ('' escapes)
      var depth = 1; var q = false
      i += 1
      while (i < n && depth > 0) {
        val c = sql.charAt(i)
        if (q) { if (c == '\'') q = false }
        else c match {
          case '\'' => q = true
          case '('  => depth += 1
          case ')'  => depth -= 1
          case _    =>
        }
        i += 1
      }
      require(depth == 0, s"stagedSql: unbalanced parens in CTE '$name'")
      out += Cte(name, bodyStart, i - 1)
      i = skipWs(i)
      if (i < n && sql.charAt(i) == ',') i = skipWs(i + 1)
      else done = true
    }
    (out.result(), i)
  }

  /** Execute `text` with the named CTEs staged behind localCheckpoints.
    * `cuts` must name distinct top-level CTEs; they are staged in textual
    * order regardless of the order given. */
  def run(spark: SparkSession, text: String, cuts: Seq[String], tag: String): DataFrame = {
    val (ctes, _) = parseCtes(text)
    val byName = ctes.map(c => c.name -> c).toMap
    cuts.foreach(c => require(byName.contains(c),
      s"stagedSql[$tag]: no CTE named '$c' (have ${ctes.map(_.name).mkString(",")})"))
    val ordered = ctes.filter(c => cuts.contains(c.name))
    // staged bodies replaced back-to-front so earlier offsets stay valid;
    // compute replacement texts front-to-back (execution order).
    var cur = text
    var shift = 0 // cumulative offset delta applied to later CTE positions
    var idx = 0
    for (c <- ordered) {
      val vn = s"__stg_${tag}_$idx"
      val bs = c.bodyStart + shift
      val be = c.bodyEnd + shift
      // head: original text truncated after this CTE's closing paren, with
      // earlier cuts already rewritten to pass-throughs in `cur`.
      val head = cur.substring(0, be + 1) + s" SELECT * FROM ${c.name}"
      spark.sql(head).localCheckpoint().createOrReplaceTempView(vn)
      val repl = s"SELECT * FROM $vn"
      cur = cur.substring(0, bs) + repl + cur.substring(be)
      shift += repl.length - (be - bs)
      idx += 1
    }
    // spark.sql analyzes eagerly, so the returned plan holds the
    // checkpoints themselves; dropping the views lets the blocks go with it
    val out = spark.sql(cur)
    (0 until idx).foreach(i => spark.catalog.dropTempView(s"__stg_${tag}_$i"))
    out
  }
}
