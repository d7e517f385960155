package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Topic factorization by nonnegative matrix factorization (Lee & Seung
 * 1999 multiplicative updates, Frobenius objective) over a SPARSE
 * doc-term matrix — the corpus-structure lens (latent themes, doc
 * mixture weights) beside the clustering (SemDeDup) and LM-scoring
 * families.
 *
 * Alternating updates, H then W, both in the standard multiplicative
 * form:
 *   H[j,t] *= (WᵀV)[j,t] / (WᵀW·H)[j,t]
 *   W[d,j] *= (V·Hᵀ)[d,j] / (W·HᵀH)[d,j]
 * Every matrix is EXPLODED to scalar rows — V:(doc,term,val),
 * W:(doc,j,w), H:(j,term,h) — so each update is plain joins +
 * aggregations: the k×k Gram matrices (WᵀW, HHᵀ) are tiny aggregation
 * outputs that join back in (never driver state), and the corpus-sized
 * work per iteration is two V-sized joins. At 100 TB that is 2·iters
 * shuffles over the sparse matrix — the textbook distributed NMF shape.
 *
 * Cross-engine exactness contract (the Classifier/iterChainSql
 * discipline): every update step's SQL text lives in ONE builder here,
 * used verbatim by the Spark run (which materializes factors between
 * iterations — localCheckpoint + temp view) and by the oracle's
 * unrolled MATERIALIZED-CTE chain. Every sum folds round-12
 * decimal(30,12) terms (order-independent); each cell divides once in
 * double; init is the shared md5-60bit uniform. Same chain, term for
 * term → bit-identical factors.
 */
object TopicModel {

  private val dec = "decimal(30,12)"

  /** 0.5 + (md5_60bit(id:j) mod 1000)/2000 — strictly positive init,
    * identical on both engines. */
  private def u01(idExpr: String, d: Dialect): String = {
    val key = d.cat(Seq(idExpr, "':'", d.strCast("js.j")))
    s"0.5 + cast(${d.md5Int(key)} % 1000 as double) / 2000.0"
  }

  /** js/w0/h0 init CTEs (no leading WITH). */
  private[pipeline] def initCtes(vRel: String, k: Int, d: Dialect,
      mat: String): String = {
    val js = (0 until k).map(j => s"SELECT $j AS j").mkString(" UNION ALL ")
    s"""js AS ($js),
       |w0 AS $mat (SELECT dd.doc, js.j, ${u01("dd.doc", d)} AS w
       |  FROM (SELECT DISTINCT doc FROM $vRel) dd CROSS JOIN js),
       |h0 AS $mat (SELECT js.j, tt.term, ${u01("tt.term", d)} AS h
       |  FROM (SELECT DISTINCT term FROM $vRel) tt CROSS JOIN js)""".stripMargin
  }

  /** One H update: exposes `$out`(j, term, h). `pfx` namespaces the
    * intermediate CTEs. A zero/missing denominator keeps the old cell
    * (the conventional NMF guard); a missing numerator zeroes it. */
  private[pipeline] def hStepCtes(vRel: String, wPrev: String, hPrev: String,
      out: String, pfx: String, mat: String): String =
    s"""${pfx}wtv AS (SELECT w.j, v.term,
       |    sum(cast(round(w.w * v.val, 12) as $dec)) AS s
       |  FROM $vRel v JOIN $wPrev w ON w.doc = v.doc GROUP BY w.j, v.term),
       |${pfx}wtw AS (SELECT a.j AS j1, b.j AS j2,
       |    sum(cast(round(a.w * b.w, 12) as $dec)) AS s
       |  FROM $wPrev a JOIN $wPrev b ON a.doc = b.doc GROUP BY a.j, b.j),
       |${pfx}hden AS (SELECT ww.j1 AS j, h.term,
       |    sum(cast(round(cast(ww.s as double) * h.h, 12) as $dec)) AS s
       |  FROM ${pfx}wtw ww JOIN $hPrev h ON h.j = ww.j2 GROUP BY ww.j1, h.term),
       |$out AS $mat (SELECT h.j, h.term,
       |    CASE WHEN d.s IS NOT NULL AND cast(d.s as double) > 0.0
       |      THEN round(h.h * (cast(coalesce(n.s, 0) as double)
       |        / cast(d.s as double)), 12)
       |      ELSE h.h END AS h
       |  FROM $hPrev h
       |  LEFT JOIN ${pfx}wtv n ON n.j = h.j AND n.term = h.term
       |  LEFT JOIN ${pfx}hden d ON d.j = h.j AND d.term = h.term)""".stripMargin

  /** One W update against the NEW H: exposes `$out`(doc, j, w). */
  private[pipeline] def wStepCtes(vRel: String, wPrev: String, hNew: String,
      out: String, pfx: String, mat: String): String =
    s"""${pfx}vht AS (SELECT v.doc, h.j,
       |    sum(cast(round(v.val * h.h, 12) as $dec)) AS s
       |  FROM $vRel v JOIN $hNew h ON h.term = v.term GROUP BY v.doc, h.j),
       |${pfx}hht AS (SELECT a.j AS j1, b.j AS j2,
       |    sum(cast(round(a.h * b.h, 12) as $dec)) AS s
       |  FROM $hNew a JOIN $hNew b ON a.term = b.term GROUP BY a.j, b.j),
       |${pfx}wden AS (SELECT w.doc, hh.j1 AS j,
       |    sum(cast(round(w.w * cast(hh.s as double), 12) as $dec)) AS s
       |  FROM $wPrev w JOIN ${pfx}hht hh ON hh.j2 = w.j GROUP BY w.doc, hh.j1),
       |$out AS $mat (SELECT w.doc, w.j,
       |    CASE WHEN d.s IS NOT NULL AND cast(d.s as double) > 0.0
       |      THEN round(w.w * (cast(coalesce(n.s, 0) as double)
       |        / cast(d.s as double)), 12)
       |      ELSE w.w END AS w
       |  FROM $wPrev w
       |  LEFT JOIN ${pfx}vht n ON n.doc = w.doc AND n.j = w.j
       |  LEFT JOIN ${pfx}wden d ON d.doc = w.doc AND d.j = w.j)""".stripMargin

  /**
   * The complete unrolled chain for an external engine (DuckDB oracle):
   * init + iters×(H step, W step), all heavy CTEs MATERIALIZED (the
   * chain re-reads each factor several times — inlining would blow up
   * the plan exponentially). Exposes `w$iters` and `h$iters`.
   */
  def chainSql(vRel: String, k: Int, iters: Int,
      d: Dialect = Dialect.duckDb, mat: String = "MATERIALIZED"): String = {
    require(k >= 1 && iters >= 1, "k >= 1, iters >= 1")
    val steps = (1 to iters).map { i =>
      hStepCtes(vRel, s"w${i - 1}", s"h${i - 1}", s"h$i", s"a$i", mat) + ",\n" +
        wStepCtes(vRel, s"w${i - 1}", s"h$i", s"w$i", s"b$i", mat)
    }.mkString(",\n")
    s"${initCtes(vRel, k, d, mat)},\n$steps"
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /**
   * Eager lineage cut WITH a size-estimate reset. localCheckpoint alone
   * cuts execution lineage but carries the child plan's sizeInBytes
   * estimate forward — and an iterative chain of self-joins then
   * COMPOUNDS estimates exponentially (est(w_i) ~ est(w_{i-1})^2 ...),
   * until Catalyst's stats arithmetic itself (BigInt products with
   * millions of bits) dominates planning time. Re-wrapping the
   * checkpointed RDD as a fresh LogicalRDD resets the estimate to the
   * engine default each iteration, keeping planning O(plan size).
   */
  private[pipeline] def matCut(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /**
   * Run the chain on Spark. `v` must carry (docCol: string-castable,
   * termCol: string, valCol: numeric >= 0). Factors are materialized
   * (localCheckpoint) between iterations — flat lineage, and each
   * update SQL references the previous factor exactly once per use
   * without re-execution. Returns both factors in one frame:
   * (matrix 'w'|'h', id = doc or term, j, value).
   */
  def nmf(v: DataFrame, docCol: String, termCol: String, valCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "k >= 1, iters >= 1")
    val spark = v.sparkSession
    val run = viewSeq.incrementAndGet()
    def vw(name: String): String = s"__nmf${run}_$name"
    v.selectExpr(s"cast($docCol as string) AS doc", s"$termCol AS term",
      s"cast($valCol as double) AS val").createOrReplaceTempView(vw("v"))
    val init = initCtes(vw("v"), k, Dialect.sparkSql, "")
    matCut(spark.sql(s"WITH $init SELECT doc, j, w FROM w0"))
      .createOrReplaceTempView(vw("w0"))
    matCut(spark.sql(s"WITH $init SELECT j, term, h FROM h0"))
      .createOrReplaceTempView(vw("h0"))
    (1 to iters).foreach { i =>
      matCut(spark.sql(s"WITH ${hStepCtes(vw("v"), vw(s"w${i - 1}"), vw(s"h${i - 1}"),
          "hnew", "", "")} SELECT j, term, h FROM hnew"))
        .createOrReplaceTempView(vw(s"h$i"))
      matCut(spark.sql(s"WITH ${wStepCtes(vw("v"), vw(s"w${i - 1}"), vw(s"h$i"),
          "wnew", "", "")} SELECT doc, j, w FROM wnew"))
        .createOrReplaceTempView(vw(s"w$i"))
    }
    spark.sql(
      s"""SELECT 'w' AS matrix, doc AS id, j, w AS value FROM ${vw(s"w$iters")}
         |UNION ALL
         |SELECT 'h', term, j, h FROM ${vw(s"h$iters")}""".stripMargin)
  }
}
