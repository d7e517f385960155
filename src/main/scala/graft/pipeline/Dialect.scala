package graft.pipeline

/**
 * The SQL spellings that differ between Spark SQL and DuckDB, one row per
 * engine. A builder that takes these spellings as parameters emits one
 * computation in either engine's text, so a catalog query and its DuckDB
 * oracle share the builder and differ only in the row they are given.
 */
final case class Dialect(
    isSpark: Boolean,
    /** Epoch microseconds of a timestamp. */
    micros: String => String,
    /** Integer-division operator. */
    div: String,
    /** Whole days from date `b` to date `a`. */
    dateDiff: (String, String) => String,
    /** 60-bit integer from the first 15 hex digits of md5(e). */
    md5Int: String => String,
    /** String concatenation of the given expressions. */
    cat: Seq[String] => String,
    strCast: String => String,
    /** Dot product of two double arrays. */
    dot: (String, String) => String,
    /** The `embeddings.embedding` column as a double array. */
    emb: String,
    /** A relation of one row per `i` in `0..n`. */
    indexRows: Int => String,
    /** Replace every match of a regex literal. */
    regexpReplace: (String, String, String) => String,
    /** `tok(doc_id, lang, word)` CTE body over `documents`: the one
      * engine-specific piece of the `TextClassify` builders. */
    tok: String,
    /** `(doc_id, pos, word)` CTE body over `documents`, 1-based pos. */
    tokPos: String,
    /** Phrase text per `(doc_id, pid)` from a `phw(doc_id, pid, pos, word)` CTE. */
    phraseAgg: String) {

  /** Days since the epoch of a timestamp. */
  def dayNum(e: String): String = s"${micros(e)} $div 86400000000"
  def intDiv(a: String, b: String): String = s"$a $div $b"
  /** Days since the epoch of a date-castable expression. */
  def epochDay(e: String): String = dateDiff(s"cast($e as date)", "DATE '1970-01-01'")
}

object Dialect {

  val sparkSql: Dialect = Dialect(
    isSpark = true,
    micros = e => s"unix_micros($e)",
    div = "div",
    dateDiff = (a, b) => s"datediff($a, $b)",
    md5Int = e => s"cast(conv(substring(md5($e), 1, 15), 16, 10) as bigint)",
    cat = as => s"concat(${as.mkString(", ")})",
    strCast = e => s"cast($e as string)",
    dot = (a, b) => s"vec_dot($a, $b)",
    emb = "embedding",
    indexRows = n => s"SELECT explode(sequence(0, $n)) AS i",
    regexpReplace = (e, p, r) => s"regexp_replace($e, '$p', '$r')",
    tok = TextClassify.sparkTokFrom("documents"),
    tokPos =
      """SELECT doc_id, p.pos + 1 AS pos, p.word
        |FROM documents
        |LATERAL VIEW posexplode(filter(split(lower(trim(text)), '\\s+'), x -> x != '')) p AS pos, word
        |WHERE text IS NOT NULL""".stripMargin,
    // order restored via array_sort on (pos, word) structs
    phraseAgg =
      """SELECT doc_id, pid,
        |  array_join(transform(array_sort(collect_list(struct(pos, word))), x -> x.word), ' ') AS phrase
        |FROM phw GROUP BY doc_id, pid""".stripMargin)

  val duckDb: Dialect = Dialect(
    isSpark = false,
    micros = e => s"epoch_us($e)",
    div = "//",
    dateDiff = (a, b) => s"date_diff('day', $b, $a)",
    md5Int = e => s"('0x' || substr(md5($e), 1, 15))::BIGINT",
    cat = as => as.mkString(" || "),
    strCast = e => s"cast($e as varchar)",
    dot = (a, b) => s"list_dot_product($a, $b)",
    emb = "cast(embedding as double[])",
    indexRows = n => s"SELECT unnest(generate_series(0, $n)) AS i",
    regexpReplace = (e, p, r) => s"regexp_replace($e, '$p', '$r', 'g')",
    tok =
      """SELECT doc_id, lang, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS word
        |FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL""".stripMargin,
    // generate_subscripts: DuckDB 1.0 lacks WITH ORDINALITY
    tokPos =
      """SELECT doc_id, generate_subscripts(l, 1) AS pos, l[generate_subscripts(l, 1)] AS word
        |FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS l
        |      FROM documents WHERE text IS NOT NULL) t""".stripMargin,
    phraseAgg =
      "SELECT doc_id, pid, string_agg(word, ' ' ORDER BY pos) AS phrase FROM phw GROUP BY doc_id, pid")
}
