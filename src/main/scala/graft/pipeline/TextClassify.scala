package graft.pipeline

/**
 * Generative text classification utilities over a tokenized corpus:
 * multinomial naive Bayes (train + resubstitution confusion matrix) and
 * chi-squared per-class term selection.
 *
 * Both are pure SQL chains over a `tok(doc_id, lang, word)` relation —
 * the tokenizer is the ONLY engine-specific piece (Spark
 * `explode(split(...))` vs DuckDB `unnest(regexp_extract_all(...))`),
 * so each builder takes the tok CTE body as a parameter and the entire
 * scoring/selection core is ONE portable text shared verbatim by the
 * Spark query and the DuckDB oracle.
 *
 * Scale shape (naive Bayes): the model is two aggregations of the token
 * stream (per-class word counts, class priors); scoring fans each token
 * out over |classes| candidates (a small constant) and joins per-class
 * counts on (class, word) — a word-keyed shuffle join, linear in corpus
 * size. Log-likelihoods fold round-9 decimal terms (order-independent,
 * cross-engine exact); the argmax breaks ties by class name.
 *
 * Chi-squared: document-presence contingency counts are exact bigints;
 * the statistic is one deterministic double expression; top-k per class
 * ranks (chi2 DESC, word).
 */
object TextClassify {

  /** Spark tok CTE over an arbitrary relation (e.g. a REPARTITION-hinted
    * derived table — the explode+split is the CPU-heavy per-row stage and
    * single-row-group test parquet otherwise runs it in one task). */
  def sparkTokFrom(rel: String): String =
    // NOTE quadruple backslash: the s-interpolator processes \\ -> \ (a
    // plain triple-quoted string does not), and the SQL literal must
    // carry \\s+ for the regex \s+
    s"""SELECT doc_id, lang, word FROM (
       |  SELECT doc_id, lang,
       |    explode(filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')) AS word
       |  FROM $rel WHERE text IS NOT NULL AND lang IS NOT NULL)""".stripMargin

  /**
   * Multinomial naive Bayes with add-1 smoothing: trains on the full
   * corpus (class = lang) and scores the same corpus, returning the
   * confusion matrix (true_lang, pred_lang, n).
   */
  def naiveBayesSql(tokCte: String): String =
    s"""WITH tok AS ($tokCte),
       |cls AS (SELECT lang, cast(count(DISTINCT doc_id) as bigint) AS nd
       |  FROM tok GROUP BY lang),
       |tot AS (SELECT cast(sum(nd) as bigint) AS n FROM cls),
       |wc AS (SELECT lang, word, cast(count(*) as bigint) AS c
       |  FROM tok GROUP BY lang, word),
       |cw AS (SELECT lang, cast(sum(c) as bigint) AS tw FROM wc GROUP BY lang),
       |vocab AS (SELECT cast(count(DISTINCT word) as bigint) AS v FROM tok),
       |sc AS (
       |  SELECT t.doc_id, t.lang AS true_lang, c.lang AS cand,
       |    sum(cast(round(ln((coalesce(w.c, 0) + 1.0) / (cw.tw + vb.v)), 9)
       |        as decimal(20,9))) AS ll
       |  FROM tok t
       |  CROSS JOIN (SELECT lang FROM cls) c
       |  JOIN cw ON cw.lang = c.lang
       |  CROSS JOIN vocab vb
       |  LEFT JOIN wc w ON w.lang = c.lang AND w.word = t.word
       |  GROUP BY t.doc_id, t.lang, c.lang),
       |post AS (
       |  SELECT s.doc_id, s.true_lang, s.cand,
       |    cast(s.ll as double)
       |      + cast(round(ln(cast(c.nd as double) / t2.n), 9) as double) AS score
       |  FROM sc s JOIN cls c ON c.lang = s.cand CROSS JOIN tot t2),
       |pred AS (
       |  SELECT doc_id, true_lang, cand AS pred_lang,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cand) AS rk
       |  FROM post)
       |SELECT true_lang, pred_lang, cast(count(*) as bigint) AS n
       |FROM pred WHERE rk = 1
       |GROUP BY true_lang, pred_lang
       |ORDER BY true_lang, pred_lang""".stripMargin

  /**
   * RAKE keyword extraction (Rose et al. 2010): candidate phrases are
   * maximal stopword-free token runs (phrase id = running stopword
   * count — one window); word scores deg/freq aggregate over phrase
   * members; phrase score sums member word scores as round-9 decimals.
   * Top phrases by (score DESC, phrase). The heavy joins are word- and
   * (doc, phrase)-keyed equi-joins — linear in the token stream.
   */
  def rakeSql(tokposCte: String, phraseAggSql: String,
      stopwords: Seq[String] = Seq("a", "the", "of", "and", "in", "to"),
      topK: Int = 15): String = {
    val stop = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH tokpos AS ($tokposCte),
       |flag AS (
       |  SELECT doc_id, pos, word,
       |    CASE WHEN word IN ($stop) THEN 1 ELSE 0 END AS stp
       |  FROM tokpos),
       |ph AS (
       |  SELECT doc_id, pos, word, stp,
       |    sum(stp) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
       |  FROM flag),
       |phw AS (SELECT doc_id, pid, pos, word FROM ph WHERE stp = 0),
       |plen AS (SELECT doc_id, pid, cast(count(*) as bigint) AS len
       |  FROM phw GROUP BY doc_id, pid),
       |wstat AS (
       |  SELECT word, cast(count(*) as bigint) AS freq,
       |    cast(sum(len) as bigint) AS deg
       |  FROM phw JOIN plen USING (doc_id, pid) GROUP BY word),
       |ptext AS ($phraseAggSql),
       |pscore AS (
       |  SELECT p.doc_id, p.pid, t.phrase,
       |    sum(cast((cast(((2 * w.deg * 1000000000 + w.freq) - ((2 * w.deg * 1000000000 + w.freq) % (2 * w.freq))) / (2 * w.freq) as bigint) / cast(1000000000 as double)) as decimal(20,9))) AS sc
       |  FROM phw p
       |  JOIN wstat w ON w.word = p.word
       |  JOIN ptext t ON t.doc_id = p.doc_id AND t.pid = p.pid
       |  GROUP BY p.doc_id, p.pid, t.phrase)
       |SELECT phrase, cast(count(*) as bigint) AS n_occurrences,
       |  round(cast(max(sc) as double), 6) + 0.0 AS rake_score
       |FROM pscore GROUP BY phrase
       |ORDER BY rake_score DESC, phrase LIMIT $topK""".stripMargin
  }

  /**
   * Chi-squared term-class association over document presence; top-`k`
   * terms per class by (chi2 DESC, word). Returns
   * (lang, rk, word, chi2, present_in_class, present_total).
   */
  def chi2Sql(tokCte: String, k: Int = 5): String =
    s"""WITH tok AS ($tokCte),
       |dw AS (SELECT DISTINCT doc_id, lang, word FROM tok),
       |nd AS (SELECT cast(count(DISTINCT doc_id) as bigint) AS n FROM dw),
       |cls AS (SELECT lang, cast(count(DISTINCT doc_id) as bigint) AS nc
       |  FROM dw GROUP BY lang),
       |wtot AS (SELECT word, cast(count(*) as bigint) AS nw FROM dw GROUP BY word),
       |cwp AS (SELECT lang, word, cast(count(*) as bigint) AS a
       |  FROM dw GROUP BY lang, word),
       |chi AS (
       |  SELECT p.lang, p.word, p.a, w.nw,
       |    round(n.n
       |        * (cast(p.a * (n.n - w.nw - k.nc + p.a) as double)
       |           - cast((w.nw - p.a) * (k.nc - p.a) as double))
       |        * (cast(p.a * (n.n - w.nw - k.nc + p.a) as double)
       |           - cast((w.nw - p.a) * (k.nc - p.a) as double))
       |        / (cast(w.nw as double) * (n.n - w.nw) * k.nc * (n.n - k.nc)),
       |      6) + 0.0 AS chi2
       |  FROM cwp p
       |  JOIN wtot w ON w.word = p.word
       |  JOIN cls k ON k.lang = p.lang
       |  CROSS JOIN nd n
       |  WHERE w.nw < n.n AND k.nc < n.n),
       |rk AS (
       |  SELECT lang, word, a, nw, chi2,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY chi2 DESC, word) AS rk
       |  FROM chi)
       |SELECT lang, cast(rk as int) AS rk, word, chi2,
       |  a AS present_in_class, nw AS present_total
       |FROM rk WHERE rk <= $k
       |ORDER BY lang, rk""".stripMargin
}
