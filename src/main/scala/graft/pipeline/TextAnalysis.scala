package graft.pipeline

import graft.Tables
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2c #31-34):
  * language id, quality scoring, token counting, fingerprinting.
  *
  * All four are per-row column-expression projections — map-only, no
  * shuffle beyond the final presentation sort; at 100 TB they fuse
  * into one whole-stage-codegen'd scan of the corpus.
  */
object TextAnalysis {

  private[pipeline] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))

  /** Whitespace tokens, lowercased, empties dropped. */
  private[pipeline] def tokens(text: Column): Column =
    graft.functions.Tokens.tokens(text)

  private[pipeline] val tokensSql = "list_filter(string_split(lower(text), ' '), t -> len(t) > 0)"

  // ------------------------------------------------------------ #31 language id

  /** Tiny per-language marker-word lists for the n-gram/stopword
    * heuristic. Order matters: ties resolve to the earlier language. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  private def markerRatio(toks: Column, words: Seq[String]): Column =
    round(size(filter(toks, t => t.isInCollection(words))).cast("double") /
      greatest(size(toks), lit(1)).cast("double"), 6)

  private def markerRatioSql(words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"round(CAST(len(list_filter(tokens, t -> t IN ($set))) AS DOUBLE) / CAST(greatest(len(tokens), 1) AS DOUBLE), 6)"
  }

  /** Stopword-ratio language heuristic: score each candidate language
    * by its marker-token ratio; predict the argmax (first-wins ties). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val withToks = docs(spark, dir).withColumn("toks", tokens(col("text")))
    val scored = LangMarkers.foldLeft(withToks) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang", markerRatio(col("toks"), words))
    }
    val best = LangMarkers.map(_._1).map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    val predicted = LangMarkers.map(_._1).reverse.foldLeft(lit("und")) {
      case (acc, lang) => when(col(s"score_$lang") === best && best > 0, lang).otherwise(acc)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .select(Seq(col("doc_id"), col("lang").as("labeled_lang"), col("predicted_lang")) ++
        LangMarkers.map { case (l, _) => col(s"score_$l") }: _*)
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val scores = LangMarkers.map { case (l, ws) => s"${markerRatioSql(ws)} AS score_$l" }
    val best = LangMarkers.map { case (l, _) => s"score_$l" }.reduceRight((a, b) => s"greatest($a, $b)")
    val predicted = LangMarkers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
      s"CASE WHEN score_$lang = best AND best > 0 THEN '$lang' ELSE $acc END"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, ${scores.mkString(",\n    ")} FROM toks),
       |withbest AS (
       |  SELECT *, $best AS best FROM scored)
       |SELECT doc_id, lang AS labeled_lang, $predicted AS predicted_lang,
       |  ${LangMarkers.map { case (l, _) => s"score_$l" }.mkString(", ")}
       |FROM withbest ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ #31b lang-id evaluation

  /** Language-ID confusion matrix — the accuracy-evaluation twin of
    * [[langId]] (same family as ann_recall / dedup_minhash_accuracy:
    * measure the approximation against ground truth, as a query).
    * Cells are (labeled, predicted) counts plus each cell's share of
    * its labeled row — the diagonal share IS per-language recall.
    *
    * Scale: langId is a map-only projection, the matrix a tiny-key
    * aggregate (≤|langs|² cells); the row-total window runs over that
    * tiny cell relation, never over data. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val wRow = org.apache.spark.sql.expressions.Window.partitionBy(col("labeled_lang"))
    langId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_labeled", sum(col("n_docs")).over(wRow))
      .withColumn("cell_frac", round(col("n_docs").cast("double") / col("n_labeled"), 6))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  val langConfusionSql: String =
    s"""WITH li AS ($langIdSql),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
       |  FROM li GROUP BY 1, 2)
       |SELECT labeled_lang, predicted_lang, n_docs,
       |  CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT) AS n_labeled,
       |  round(CAST(n_docs AS DOUBLE)
       |    / CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT), 6) AS cell_frac
       |FROM cells ORDER BY labeled_lang, predicted_lang""".stripMargin

  // ------------------------------------------------------------ #32 quality score

  /** Length / punctuation / stopword heuristic quality score in [0,1]:
    * rewards mid-length docs with low punctuation density and a sane
    * stopword ratio — the classic cheap pre-filter before training. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    // stage the token array once — inline uses would re-run the
    // interpreted split+filter per referencing expression
    val toks = col("toks")
    val nChars = length(col("text")).cast("double")
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val punct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))).cast("double")
    val stop = size(filter(toks, t => t.isInCollection(LangMarkers.head._2))).cast("double")
    docs(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_token_len", round((nChars - (nToks - 1)) / nToks, 6))
      .withColumn("punct_ratio", round(punct / greatest(nChars, lit(1.0d)), 6))
      .withColumn("stopword_ratio", round(stop / nToks, 6))
      .withColumn("length_score",
        round(least(nChars / 200.0d, lit(1.0d)) * least(lit(1.0d), lit(1000.0d) / greatest(nChars, lit(1.0d))), 6))
      .withColumn("quality_score",
        round((col("length_score") * 0.5d
          + (lit(1.0d) - least(col("punct_ratio") * 5.0d, lit(1.0d))) * 0.3d
          + least(col("stopword_ratio") * 4.0d, lit(1.0d)) * 0.2d), 6))
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"), col("punct_ratio"),
        col("stopword_ratio"), col("length_score"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  val qualitySql: String = {
    val stopSet = LangMarkers.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text, $tokensSql AS tokens,
       |    CAST(len(text) AS DOUBLE) AS n_chars_d,
       |    CAST(greatest(len($tokensSql), 1) AS DOUBLE) AS n_toks_d,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS punct,
       |    CAST(len(list_filter($tokensSql, t -> t IN ($stopSet))) AS DOUBLE) AS stop
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(tokens) AS BIGINT) AS n_tokens,
       |    round((n_chars_d - (n_toks_d - 1)) / n_toks_d, 6) AS avg_token_len,
       |    round(punct / greatest(n_chars_d, 1.0), 6) AS punct_ratio,
       |    round(stop / n_toks_d, 6) AS stopword_ratio,
       |    round(least(n_chars_d / 200.0, 1.0) * least(1.0, 1000.0 / greatest(n_chars_d, 1.0)), 6) AS length_score
       |  FROM t)
       |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio, length_score,
       |  round(length_score * 0.5 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
       |    + least(stopword_ratio * 4.0, 1.0) * 0.2, 6) AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ #32b Gopher rule battery

  /** The MassiveText stop set: a doc must contain ≥ 2 of these (Rae
    * et al. 2021, A.1.1 — the "contains 2 of 8 common English words"
    * rule). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The MassiveText/Gopher QUALITY RULE BATTERY (Rae et al. 2021,
    * A.1.1) — the rule set most large-scale text pipelines start
    * from, as measured values plus the conjunction verdict:
    * word count ∈ [50, 100k], mean word length ∈ [3, 10],
    * #/ellipsis symbol-to-word ratio ≤ 0.1, ≥ 80% of words carry an
    * alphabetic character, ≥ 2 distinct [[GopherStops]], ≤ 90% of
    * lines bullet-started, ≤ 30% ellipsis-ended. Deliberately
    * rational arithmetic only (counts and one rounded division per
    * ratio) so the verdicts hash-match the oracle bit-for-bit.
    * Map-only: one codegen'd scan, no shuffle before the
    * presentation sort — [[quality]]'s scale shape. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(docs(spark, dir))

  /** [[gopherRules]] over any `(doc_id, text)`-shaped frame (spec
    * entry point for boundary-case corpora). */
  private[pipeline] def gopherRulesOn(in: DataFrame): DataFrame = {
    val toks = col("toks")
    val lines = col("lines")
    val nW = greatest(size(toks), lit(1)).cast("double")
    val nL = greatest(size(lines), lit(1)).cast("double")
    val stopArr = array(GopherStops.map(lit): _*)
    in
      .withColumn("toks", tokens(col("text")))
      .withColumn("lines", filter(split(col("text"), "\n"), l => length(l) > 0))
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("mean_word_len",
        round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nW, 6))
      .withColumn("symbol_ratio",
        round(size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
          .cast("double") / nW, 6))
      .withColumn("alpha_word_ratio",
        round(size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nW, 6))
      .withColumn("n_stop_hits", size(array_intersect(toks, stopArr)).cast("long"))
      .withColumn("bullet_line_ratio",
        round(size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") / nL, 6))
      .withColumn("ellipsis_line_ratio",
        round(size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$")))
          .cast("double") / nL, 6))
      .withColumn("n_rules_passed",
        Seq(col("n_words").between(50L, 100000L),
          col("mean_word_len").between(3.0d, 10.0d),
          col("symbol_ratio") <= 0.1d,
          col("alpha_word_ratio") >= 0.8d,
          col("n_stop_hits") >= 2L,
          col("bullet_line_ratio") <= 0.9d,
          col("ellipsis_line_ratio") <= 0.3d)
          .map(_.cast("long")).reduce(_ + _))
      .withColumn("pass_gopher", col("n_rules_passed") === 7L)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"), col("symbol_ratio"),
        col("alpha_word_ratio"), col("n_stop_hits"), col("bullet_line_ratio"),
        col("ellipsis_line_ratio"), col("n_rules_passed"), col("pass_gopher"))
      .orderBy(col("doc_id"))
  }

  val gopherRulesSql: String = {
    val stopSet = GopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text, $tokensSql AS tokens,
       |    list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lines
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, tokens, lines,
       |    CAST(greatest(len(tokens), 1) AS DOUBLE) AS nw,
       |    CAST(greatest(len(lines), 1) AS DOUBLE) AS nl
       |  FROM t),
       |r AS (
       |  SELECT doc_id,
       |    CAST(len(tokens) AS BIGINT) AS n_words,
       |    round(CAST(list_reduce(list_prepend(0, list_transform(tokens, t -> len(t))),
       |      (acc, x) -> acc + x) AS DOUBLE) / nw, 6) AS mean_word_len,
       |    round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / nw, 6) AS symbol_ratio,
       |    round(CAST(len(list_filter(tokens, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / nw, 6) AS alpha_word_ratio,
       |    CAST(len(list_intersect(list_distinct(tokens), [$stopSet])) AS BIGINT) AS n_stop_hits,
       |    round(CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE) / nl, 6) AS bullet_line_ratio,
       |    round(CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) / nl, 6) AS ellipsis_line_ratio
       |  FROM m)
       |SELECT *,
       |  (CAST(n_words BETWEEN 50 AND 100000 AS BIGINT)
       |   + CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS BIGINT)
       |   + CAST(symbol_ratio <= 0.1 AS BIGINT)
       |   + CAST(alpha_word_ratio >= 0.8 AS BIGINT)
       |   + CAST(n_stop_hits >= 2 AS BIGINT)
       |   + CAST(bullet_line_ratio <= 0.9 AS BIGINT)
       |   + CAST(ellipsis_line_ratio <= 0.3 AS BIGINT)) AS n_rules_passed,
       |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |   AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8 AND n_stop_hits >= 2
       |   AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3) AS pass_gopher
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ #33 token counting

  /** BPE-ish pre-tokenizer regex: letter runs, digit runs, single
    * non-alnum marks (the GPT-2 pre-tokenizer's coarse shape). */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_ws_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("n_bpeish_tokens",
        size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))).cast("long"))
      .withColumn("n_chars_actual", length(col("text")).cast("long"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpeish_tokens"), col("n_chars_actual"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len($tokensSql) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpeishPattern')) AS BIGINT) AS n_bpeish_tokens,
       |  CAST(len(text) AS BIGINT) AS n_chars_actual
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #33b corpus stats

  /** Corpus length histogram: docs bucketed by token count (decade
    * buckets) with per-bucket char/token totals — the distribution
    * check every corpus build starts with. Exact integer bucketing
    * (not percentiles) so the oracle compares bit-for-bit. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
      .withColumn("bucket", (col("n_toks") - (col("n_toks") % 10)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("n_toks")).as("min_tokens"),
        max(col("n_toks")).as("max_tokens"))
      .orderBy(col("bucket"))

  val lengthHistogramSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, CAST(len($tokensSql) AS BIGINT) AS n_toks FROM documents)
       |SELECT n_toks - (n_toks % 10) AS bucket,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |  CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       |  MIN(n_toks) AS min_tokens,
       |  MAX(n_toks) AS max_tokens
       |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------ #33c chunking

  val ChunkTokens = 16 // tokens per chunk
  val ChunkStride = 8  // overlap: each chunk starts Stride tokens after the last

  /** Sliding-window chunking — split each doc into overlapping
    * [[ChunkTokens]]-token windows every [[ChunkStride]] tokens (the
    * RAG-indexing / long-doc training prep). Each chunk row carries an
    * md5 of its joined text, pinning the exact slice content without
    * emitting the text itself.
    *
    * Scale: map-only — sequence+explode fans each doc to its chunk
    * starts, slice/concat/md5 are per-row projections; no shuffle at
    * all (the trailing presentation sort is the oracle's, not the
    * operator's). The token array is staged once per doc (interpreted
    * HOFs don't CSE — see Hashes scaladoc). */
  def chunk(spark: SparkSession, dir: String): DataFrame =
    chunkOn(docs(spark, dir))

  private[pipeline] def chunkOn(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start_tok"))
      .withColumn("chunk_idx", ((col("start_tok") - 1) / ChunkStride).cast("int"))
      .withColumn("chunk_toks", slice(col("toks"), col("start_tok"), lit(ChunkTokens)))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok").cast("int").as("start_tok"),
        size(col("chunk_toks")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks), $ChunkStride)) AS start_tok
       |  FROM t WHERE len(toks) > 0)
       |SELECT doc_id,
       |  CAST((start_tok - 1) // $ChunkStride AS INT) AS chunk_idx,
       |  CAST(start_tok AS INT) AS start_tok,
       |  CAST(len(list_slice(toks, start_tok, start_tok + ${ChunkTokens - 1})) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(toks, start_tok, start_tok + ${ChunkTokens - 1}), ' ')) AS chunk_digest
       |FROM starts
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------------ #33d repetition

  /** Gopher-style per-doc repetition signals (Rae et al. 2021 §A1.1):
    * top-token fraction, duplicate-token fraction, top-bigram
    * fraction — the standard filters for boilerplate / degenerate
    * repetition before training.
    *
    * Scale: two (doc, gram)-grain wordcount shuffles with map-side
    * combine, re-aggregated to doc grain (the second groupBy reuses
    * the doc_id-prefixed partitioning), then a doc-keyed join of the
    * two stat frames — no corpus-sized relation is ever broadcast,
    * nothing is quadratic in doc length. The token array is staged
    * once per doc and exploded with explode_outer (plain explode
    * infers a size() filter that re-inlines the interpreted HOF at
    * the scan — see [[graft.functions.Hashes]] scaladoc). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toked = docs(spark, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val tokStats = toked
      .select(col("doc_id"), explode_outer(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(col("token")).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(col("token")).as("n_distinct"),
        max(col("c")).as("top_c"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_c"))
    // bigram starts: explicit guard — Spark's sequence(1, 0) steps
    // DOWNWARD ([1, 0]), it is not empty like DuckDB generate_series
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val bigramStats = toked
      .select(col("doc_id"), bigrams.as("bigrams"))
      .select(col("doc_id"), explode_outer(col("bigrams")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(col("bigram")).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_c"))
    tokStats.join(bigramStats, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("top_c").cast("double") / greatest(col("n_tokens"), lit(1L)).cast("double"), 6)
          .as("top_token_frac"),
        round(col("dup_c").cast("double") / greatest(col("n_tokens"), lit(1L)).cast("double"), 6)
          .as("dup_token_frac"),
        col("n_bigrams"),
        round(col("top_bigram_c").cast("double") / greatest(col("n_bigrams"), lit(1L)).cast("double"), 6)
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
       |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |ts AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |    MAX(c) AS top_c, CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c
       |  FROM tc GROUP BY 1),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       |  FROM d),
       |bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bigram_c FROM bc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(ts.n_tokens, 0) AS n_tokens,
       |  COALESCE(ts.n_distinct, 0) AS n_distinct,
       |  round(CAST(COALESCE(ts.top_c, 0) AS DOUBLE) / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 6) AS top_token_frac,
       |  round(CAST(COALESCE(ts.dup_c, 0) AS DOUBLE) / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 6) AS dup_token_frac,
       |  COALESCE(bs.n_bigrams, 0) AS n_bigrams,
       |  round(CAST(COALESCE(bs.top_bigram_c, 0) AS DOUBLE) / CAST(greatest(COALESCE(bs.n_bigrams, 0), 1) AS DOUBLE), 6) AS top_bigram_frac
       |FROM d
       |LEFT JOIN ts ON d.doc_id = ts.doc_id
       |LEFT JOIN bs ON d.doc_id = bs.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------ #33e commonness

  /** Unigram-LM commonness score — the CCNet-style cross-doc quality
    * signal with the log replaced by an exact rational: each doc's
    * average GLOBAL occurrence count of its tokens. Rare-token-heavy
    * docs (typically noise) score low; boilerplate scores high. The
    * real CCNet ranks by KenLM perplexity; an ln-based score is not
    * hash-comparable across engines (libm ulp drift), and the
    * frequency average ranks docs identically for filtering.
    *
    * Scale: one wordcount shuffle for the vocabulary relation, then a
    * token-keyed join of corpus tokens against it — vocab ≪ corpus
    * (Heaps' law), so AQE broadcasts it when it fits and falls back
    * to a shuffle join with skew splitting (hot stopword keys) when
    * it doesn't; no mandatory hint. The exploded token frame feeds
    * both the vocabulary agg and the join probe, so it is
    * localCheckpointed — without it the interpreted split+filter
    * subtree executes twice (the kmeans/IVF lesson). */
  def commonness(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode_outer(col("toks")).as("token"))
      .localCheckpoint()
    val vocab = tok.filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("gf"))
    tok.join(vocab, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("token")).as("n_tokens"),
        sum(coalesce(col("gf"), lit(0L))).as("sum_freq"))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
        round(col("sum_freq").cast("double") / greatest(col("n_tokens"), lit(1L)).cast("double"), 6)
          .as("avg_token_freq"))
      .orderBy(col("doc_id"))
  }

  val commonnessSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
       |g AS (SELECT token, COUNT(*) AS gf FROM tok GROUP BY 1),
       |s AS (
       |  SELECT t.doc_id, COUNT(*) AS n_tokens, CAST(SUM(g.gf) AS BIGINT) AS sum_freq
       |  FROM tok t JOIN g ON t.token = g.token GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(s.n_tokens, 0) AS n_tokens,
       |  COALESCE(s.sum_freq, 0) AS sum_freq,
       |  round(CAST(COALESCE(s.sum_freq, 0) AS DOUBLE) / CAST(greatest(COALESCE(s.n_tokens, 0), 1) AS DOUBLE), 6) AS avg_token_freq
       |FROM d LEFT JOIN s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------ #33g bigram LM

  /** Bigram-LM fluency score — [[commonness]] extended to 2-gram
    * context (one step closer to CCNet's KenLM perplexity, still in
    * engine-exact arithmetic): each bigram instance scores
    * P(w2|w1) ≈ C(w1 w2) / C(w1) from GLOBAL corpus counts; the doc
    * reports the average. Degenerate repetition scores high, random
    * token soup scores low — complementary failure modes to the
    * repetition signals. Per-instance ratios pass through
    * DECIMAL(27,12) before summing (double addition is
    * order-dependent; the decimal sum is partition-stable — the
    * bit-stability rule every double aggregate here follows), plus a
    * fully-integer pooled variant (Σ bigram counts / Σ prefix counts).
    *
    * Scale: two wordcount shuffles (bigram grain, token grain), two
    * probe joins AQE-broadcast when the count relations fit, one
    * doc-grain aggregate. The exploded bigram frame feeds the count
    * aggregation AND the probe — localCheckpointed once. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toked = docs(spark, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val bigramArr = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val inst = toked
      .select(col("doc_id"), explode_outer(bigramArr).as("bigram"))
      .filter(col("bigram").isNotNull)
      .withColumn("prefix", substring_index(col("bigram"), " ", 1))
      .localCheckpoint()
    val bc = inst.groupBy(col("bigram")).agg(count(lit(1)).as("bc"))
    val uc = docs(spark, dir)
      .select(explode_outer(tokens(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("uc"))
    inst.join(bc, Seq("bigram"))
      .join(uc, inst("prefix") === uc("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bc")).as("sum_bigram_freq"),
        sum(col("uc")).as("sum_prefix_freq"),
        round((sum((col("bc").cast("double") / col("uc").cast("double")).cast("decimal(27,12)"))
          .cast("double") / count(lit(1)).cast("double")), 6).as("avg_cond_prob"),
        round(sum(col("bc")).cast("double") / sum(col("uc")).cast("double"), 6)
          .as("pooled_cond_prob"))
      .orderBy(col("doc_id"))
  }

  val bigramLmSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |inst AS (
       |  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS prefix FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       |    FROM d)),
       |bc AS (SELECT bigram, COUNT(*) AS bc FROM inst GROUP BY 1),
       |uc AS (
       |  SELECT token, COUNT(*) AS uc FROM (SELECT unnest(toks) AS token FROM d) GROUP BY 1)
       |SELECT i.doc_id,
       |  COUNT(*) AS n_bigrams,
       |  CAST(SUM(bc.bc) AS BIGINT) AS sum_bigram_freq,
       |  CAST(SUM(uc.uc) AS BIGINT) AS sum_prefix_freq,
       |  round(CAST(SUM(CAST(CAST(bc.bc AS DOUBLE) / CAST(uc.uc AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_cond_prob,
       |  round(CAST(SUM(bc.bc) AS DOUBLE) / CAST(SUM(uc.uc) AS DOUBLE), 6) AS pooled_cond_prob
       |FROM inst i
       |JOIN bc ON i.bigram = bc.bigram
       |JOIN uc ON i.prefix = uc.token
       |GROUP BY 1 ORDER BY i.doc_id""".stripMargin

  // ------------------------------------------------------------ #33f quality filter

  /** Quality-filter thresholds — Gopher-rule shapes (Rae et al. 2021
    * §A1.1) recalibrated to this corpus's signal quantiles so every
    * reason code actually fires (each cut lands near a p90-p97
    * quantile at sf0.01). */
  val MinTokens = 15L
  val MaxTopTokenFrac = 0.15d
  val MaxDupTokenFrac = 0.95d
  val MaxTopBigramFrac = 0.09d
  val MinQualityScore = 0.55d

  /** The quality pipeline's END PRODUCT — the quality-side analogue of
    * [[graft.pipeline.Dedup.keeplist]]: per-doc keep/drop decision
    * composing the length, repetition and heuristic-quality signals,
    * with the FIRST failing rule as the reason code (rule order =
    * cheapest-to-explain first, the usual filter-report convention).
    *
    * Scale: both signal frames are doc-grain projections/aggregations
    * of one corpus scan; the composition adds a single doc-keyed
    * join. Map-only rules after that. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterFrame(spark, dir).orderBy(col("doc_id"))

  /** [[qualityFilter]] without the presentation sort — the frame the
    * corpus-clean pipeline composes with (its next step is a join, so
    * a global sort exchange here would be pure waste — the
    * keeplistFrame rule). */
  private[graft] def qualityFilterFrame(spark: SparkSession, dir: String): DataFrame = {
    val r = repetition(spark, dir).select("doc_id", "n_tokens",
      "top_token_frac", "dup_token_frac", "top_bigram_frac")
    val q = quality(spark, dir).select("doc_id", "quality_score")
    val reason = when(col("n_tokens") < MinTokens, "too_short")
      .when(col("top_token_frac") > MaxTopTokenFrac, "top_token")
      .when(col("dup_token_frac") > MaxDupTokenFrac, "dup_tokens")
      .when(col("top_bigram_frac") > MaxTopBigramFrac, "top_bigram")
      .when(col("quality_score") < MinQualityScore, "low_quality")
      .otherwise("kept")
    r.join(q, Seq("doc_id"))
      .withColumn("reason", reason)
      .select(col("doc_id"), col("reason"), (col("reason") === "kept").as("keep"),
        col("n_tokens"), col("top_token_frac"), col("dup_token_frac"),
        col("top_bigram_frac"), col("quality_score"))
  }

  val qualityFilterSql: String =
    s"""WITH r AS ($repetitionSql),
       |q AS ($qualitySql),
       |reasons AS (
       |  SELECT r.doc_id, r.n_tokens, r.top_token_frac, r.dup_token_frac,
       |    r.top_bigram_frac, q.quality_score,
       |    CASE WHEN r.n_tokens < $MinTokens THEN 'too_short'
       |         WHEN r.top_token_frac > $MaxTopTokenFrac THEN 'top_token'
       |         WHEN r.dup_token_frac > $MaxDupTokenFrac THEN 'dup_tokens'
       |         WHEN r.top_bigram_frac > $MaxTopBigramFrac THEN 'top_bigram'
       |         WHEN q.quality_score < $MinQualityScore THEN 'low_quality'
       |         ELSE 'kept' END AS reason
       |  FROM r JOIN q ON r.doc_id = q.doc_id)
       |SELECT doc_id, reason, (reason = 'kept') AS keep, n_tokens,
       |  top_token_frac, dup_token_frac, top_bigram_frac, quality_score
       |FROM reasons ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #34 fingerprint

  /** Polynomial rolling-hash document fingerprints: one full-text hash
    * under two bases — the pair is a cheap 62-bit content address. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val codes = Hashes.charCodes(col("text"))
    val fp2 = aggregate(codes, lit(0L), (acc, x) => (acc * 257L + x) % Hashes.M)
    docs(spark, dir)
      .withColumn("fp_a", Hashes.polyHash(codes))
      .withColumn("fp_b", fp2)
      .select(col("doc_id"), col("fp_a"), col("fp_b"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String = {
    val codes = Hashes.charCodesSql("text")
    s"""SELECT doc_id,
       |  ${Hashes.polyHashSql(codes)} AS fp_a,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), (acc, x) -> (acc * 257 + x) % ${Hashes.M}) AS fp_b
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ #33g tf-idf

  val TfidfTopK = 5

  /** TF-IDF keyword extraction — the top-[[TfidfTopK]] terms per
    * document by tf·(N/df), with a LINEAR idf: ln() is not
    * hash-comparable across engines (libm ulp differences — SURVEY
    * §6), and for per-doc RANKING the monotone N/df orders terms
    * identically to log(N/df). The score is (tf·N)/df — an exact
    * integer product followed by ONE correctly-rounded double
    * division, deterministic on both engines.
    *
    * Scale: tf is one (doc, token)-keyed exchange with map-side
    * combine, localCheckpointed because it feeds BOTH df and the join
    * probe (the [[graft.pipeline.Dedup.clusters]] / embKmeans lesson —
    * without it the tokenize+count subtree executes twice). df is a
    * token-keyed groupBy over that frame and joins back on token — a
    * hash join AQE can SKEW-SPLIT on hot tokens ("the" lands in every
    * doc; a token-partitioned count WINDOW would pin all its rows in
    * one task with no skew remedy, which is why df is not a window).
    * N broadcasts as a 1-row aggregate; the top-k is a doc-keyed
    * window (docs bound the partition, no skew). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token"))
      .join(broadcast(n), lit(true))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfTopK)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
       |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC, tf.token) AS rnk
       |  FROM tf JOIN df USING (token) CROSS JOIN n)
       |SELECT doc_id, rnk, token, tf, df, round(score, 6) AS score
       |FROM scored WHERE rnk <= $TfidfTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // ------------------------------------------------------------ #33t BM25 retrieval scoring

  /** The retrieval-eval query workload: fixed multi-term queries over
    * the synthetic vocabulary. A literal relation — at production
    * scale this is the (tiny) eval-set side of the probe join. */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark window agg",
    2 -> "hash join merge",
    3 -> "fast table scan",
    4 -> "stream batch data",
    5 -> "slow query filter sort")
  val Bm25TopK = 10

  /** The exact-rational BM25 per-term score — ONE correctly-rounded
    * double division of two exact BIGINT products (see [[bm25]] for
    * the derivation), rounded to scale 9 for exact DECIMAL summation.
    * Shared by [[bm25]] and [[Retrieval.rrfOn]] so the lexical math
    * exists in exactly one place. Column args: term frequency in the
    * doc, document frequency, doc length (tokens), corpus doc count,
    * corpus token count. */
  private[pipeline] def bm25TermScore(tf: Column, df: Column, dl: Column,
      nDocs: Column, tToks: Column): Column = {
    val num = (lit(2) * (nDocs - df) + lit(1)) * lit(22) * tf * tToks
    val den = (lit(2) * df + lit(1)) *
      (lit(10) * tf * tToks + lit(3) * tToks + lit(9) * dl * nDocs)
    round(num.cast("double") / den.cast("double"), 9).cast("decimal(20,9)")
  }

  /** The SQL twin of [[bm25TermScore]] over columns named
    * `tf.tf, df, dl.dl, n_docs, t_toks` (the CTE layout both
    * consumers share). */
  private[pipeline] val bm25TermScoreSql: String =
    """CAST(round(
      |      CAST((2 * (n_docs - df) + 1) * 22 * tf.tf * t_toks AS DOUBLE) /
      |      CAST((2 * df + 1) * (10 * tf.tf * t_toks + 3 * t_toks + 9 * dl.dl * n_docs) AS DOUBLE),
      |      9) AS DECIMAL(20,9))""".stripMargin

  /** BM25 retrieval scoring (Robertson–Spärck Jones / Okapi) — the
    * retrieval twin of [[tfidf]]: per (query, doc),
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * k1 = 1.2, b = 0.75, ranked top-[[Bm25TopK]] docs per query.
    *
    * Exact-rational arithmetic (the tfidf linear-idf precedent — ln
    * isn't hash-stable across engines, SURVEY §6): the idf factor is
    * the RATIONAL inside BM25+'s log, (N − df + ½)/(df + ½) =
    * (2(N−df)+1)/(2df+1), and with avgdl = T/N the tf-normalization
    * clears to integers when multiplied through by 10·T:
    * tfnorm = 22·tf·T / (10·tf·T + 3·T + 9·dl·N). Each per-term score
    * is therefore ONE correctly-rounded double division of two exact
    * BIGINT products (both < 2^53 at bench scale — at 100 TB the
    * products shift to DECIMAL(38,0), same plan), rounded to scale 9
    * and summed per (query, doc) as exact DECIMAL — associative, so
    * any partial-aggregation order yields the identical sum, and the
    * RANK is taken on that exact decimal, never on a double.
    *
    * Scale: tf is the [[tfidf]] exchange (one (doc, token)-keyed
    * groupBy with map-side combine, localCheckpointed — it feeds df,
    * dl, T and the probe); the query-term relation is literal and
    * broadcasts into the tf probe (the corpus never shuffles for the
    * probe); df joins back on token with AQE skew-split available;
    * N / T re-enter as broadcast 1-row aggregates; the final top-k is
    * a query-keyed window over the (queries × matched docs) relation,
    * partition-bounded by the query count. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25On(docs(spark, dir))

  /** The BM25 sufficient statistic: the `(doc_id, token, tf)` term-
    * frequency relation, with a `(doc_id, NULL, 0)` row for token-less
    * docs (explode_outer + non-null count) so corpus doc count N stays
    * derivable from the relation alone — the property [[Bm25Index]]
    * persists. ONE (doc, token)-keyed exchange with map-side combine. */
  private[pipeline] def tfRelation(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode_outer(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(col("token")).as("tf"))

  private[pipeline] def bm25On(d: DataFrame): DataFrame =
    bm25FromTf(tfRelation(d))

  /** The doc-grain and corpus-grain BM25 statistics from the tf
    * sufficient statistic, derived in ONE aggregation chain (r14,
    * guide §2.4): `docStats` is the old per-doc `dl` groupBy (token-
    * less docs carry a dl = 0 row the probe's inner join never
    * matches); re-aggregating it yields the 1-row `(n_docs, t_toks)`
    * — `count(groups)` ≡ the old `countDistinct(doc_id)` (an Expand +
    * two exchanges) and `sum(dl)` ≡ the old global `sum(tf)` (NULL-
    * token rows carry tf = 0), as one broadcast instead of two. */
  private[pipeline] def bm25Stats(tfCk: DataFrame): (DataFrame, DataFrame) = {
    val docStats = tfCk.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val nt = docStats.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_toks"))
    (docStats, nt)
  }

  /** One BM25 term-scoring probe over the shared statistics: the
    * (query_id, token[, wq]) relation broadcasts into tf; df and the
    * doc-grain docStats join back with the planner/AQE free to choose
    * the strategy; the 1-row `nt` rides along as one broadcast. Emits
    * the scored term-grain rows (column `s` = [[bm25TermScore]]);
    * callers aggregate/weight/rank.
    *
    * NOTE (r14, measured — do not re-try): attaching df via a
    * query-bounded semi-join (`dfq = dfRel ⋉ broadcast(q.tokens)`,
    * then `broadcast(dfq)`) was TRIED for the 100 TB
    * bounded-broadcast posture and REVERTED: forcing a broadcast of a
    * DERIVED relation chains its whole subtree into a blocking build
    * job (bcast(q) → dfq job → collect → bcast(dfq)) per scoring
    * pass, and retrieval_eval_editions regressed 15.5 → 19.9 s
    * min-of-5 same-session wall while the plain join costs nothing
    * (AQE broadcasts dfRel at bench scale and falls back to a
    * skew-handled shuffle join at vocabulary scale — both safe). */
  private[pipeline] def bm25Probe(tf: DataFrame, docStats: DataFrame,
      dfRel: DataFrame, nt: DataFrame, q: DataFrame): DataFrame = {
    tf.join(broadcast(q), Seq("token"))
      .join(dfRel, Seq("token"))
      .join(docStats, Seq("doc_id"))
      .join(broadcast(nt), lit(true))
      .withColumn("s", bm25TermScore(col("tf"), col("df"),
        col("dl"), col("n_docs"), col("t_toks")))
  }

  /** BM25 scoring from the sufficient statistic alone — shared by the
    * from-text path ([[bm25On]]) and the stored-index path
    * ([[Bm25Index.search]]), so incremental ≡ batch is structural:
    * both run the SAME plan over differently-sourced tf relations.
    * df/dl/N/T all derive from tf; the NULL-token rows contribute to
    * N only (df excludes them, dl/T sum their tf = 0, the probe join
    * never matches them). */
  private[pipeline] def bm25FromTf(tfAll: DataFrame): DataFrame = {
    import tfAll.sparkSession.implicits._
    val tf = tfAll.localCheckpoint()
    val df = tf.filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val (docStats, nt) = bm25Stats(tf)
    val qt = Bm25Queries.toDF("query_id", "query")
      .select(col("query_id"), explode(split(col("query"), " ")).as("token"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sd").desc, col("doc_id"))
    bm25Probe(tf, docStats, df, nt, qt)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("s")).as("sd"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms_hit"),
        round(col("sd").cast("double"), 6).as("bm25"))
      .orderBy(col("query_id"), col("rank"))
  }

  val bm25Sql: String = {
    val values = Bm25Queries.map { case (id, q) => s"($id, '$q')" }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS t_toks FROM tf),
       |qt AS (
       |  SELECT query_id, unnest(string_split(query, ' ')) AS token
       |  FROM (VALUES $values) AS q(query_id, query)),
       |terms AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    $bm25TermScoreSql AS s
       |  FROM tf
       |  JOIN qt USING (token) JOIN df USING (token)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN n CROSS JOIN t),
       |scored AS (
       |  SELECT query_id, doc_id, COUNT(*) AS n_terms_hit, SUM(s) AS sd
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sd DESC, doc_id) AS INT) AS rank FROM scored)
       |SELECT query_id, rank, doc_id, n_terms_hit,
       |  round(CAST(sd AS DOUBLE), 6) AS bm25
       |FROM ranked WHERE rank <= $Bm25TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------------------ #33i collocations

  /** Minimum pair count for [[collocations]] — rarer pairs have too
    * little evidence for an association score (standard PMI hygiene;
    * it also bounds the scored relation). */
  val MinPairCount = 5L
  val TopCollocations = 50

  /** Corpus collocations — bigrams ranked by pointwise association
    * ("lift", the PMI argument before the log):
    * p(xy) / (p(x)·p(y)) with p over the corpus-wide bigram / unigram
    * totals. The tokenizer-merge / phrase-mining primitive (word2vec
    * phrases, BPE seed merges). Kept as the exact rational — taking
    * the log adds nothing to the ranking (monotone) and natural log is
    * not hash-stable across engines (the doc'd libm rule).
    *
    * Scale: two wordcount shuffles (bigram grain, token grain) with
    * map-side combine — the count relations are vocab-sized, so the
    * two prefix/suffix probes AQE-broadcast; totals re-enter as 1-row
    * aggregates; final top-k is an orderBy+limit (TakeOrdered — never
    * a global sort of the scored relation). Both count frames are
    * consumed twice (probe + total) and vocab-sized →
    * localCheckpointed, so the corpus scan runs once per grain. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toked = docs(spark, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val bigramArr = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val bc = toked
      .select(explode_outer(bigramArr).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val uc = toked
      .select(explode_outer(col("toks")).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
      .localCheckpoint()
    val tPairs = bc.agg(sum(col("n_pair")).as("t_pairs"))
    val tToks = uc.agg(sum(col("n_tok")).as("t_tokens"))
    bc.filter(col("n_pair") >= MinPairCount)
      .withColumn("prefix", substring_index(col("bigram"), " ", 1))
      .withColumn("suffix", substring_index(col("bigram"), " ", -1))
      .join(uc.select(col("token").as("prefix"), col("n_tok").as("n_prefix")), Seq("prefix"))
      .join(uc.select(col("token").as("suffix"), col("n_tok").as("n_suffix")), Seq("suffix"))
      .join(broadcast(tPairs), lit(true))
      .join(broadcast(tToks), lit(true))
      // (c_xy/T) · (U/c_x) · (U/c_y): divisions first keeps every
      // intermediate small enough for exact doubles at any SF
      .withColumn("lift", round(
        (col("n_pair").cast("double") / col("t_pairs").cast("double"))
          * (col("t_tokens").cast("double") / col("n_prefix").cast("double"))
          * (col("t_tokens").cast("double") / col("n_suffix").cast("double")), 6))
      .select(col("bigram"), col("n_pair"), col("n_prefix"), col("n_suffix"), col("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(TopCollocations)
  }

  val collocationsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |inst AS (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM d),
       |bc AS (SELECT bigram, COUNT(*) AS n_pair FROM inst GROUP BY 1),
       |uc AS (
       |  SELECT token, COUNT(*) AS n_tok FROM (SELECT unnest(toks) AS token FROM d) GROUP BY 1),
       |tp AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t_pairs FROM bc),
       |tt AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_tokens FROM uc)
       |SELECT b.bigram, b.n_pair, p.n_tok AS n_prefix, s.n_tok AS n_suffix,
       |  round((CAST(b.n_pair AS DOUBLE) / CAST(t_pairs AS DOUBLE))
       |    * (CAST(t_tokens AS DOUBLE) / CAST(p.n_tok AS DOUBLE))
       |    * (CAST(t_tokens AS DOUBLE) / CAST(s.n_tok AS DOUBLE)), 6) AS lift
       |FROM bc b
       |JOIN uc p ON string_split(b.bigram, ' ')[1] = p.token
       |JOIN uc s ON string_split(b.bigram, ' ')[2] = s.token
       |CROSS JOIN tp CROSS JOIN tt
       |WHERE b.n_pair >= $MinPairCount
       |ORDER BY lift DESC, bigram LIMIT $TopCollocations""".stripMargin

  // ------------------------------------------------------------ #33j hashing-trick embedding

  /** Dimensions of the feature-hashed representation. */
  val HashEmbedDims = 32

  /** Feature-hashed bag-of-words "embedding" (the hashing trick,
    * Weinberger et al. 2009) — the model-free text→vector bridge: each
    * token lands in dimension polyhash(token) mod $HashEmbedDims with
    * a ±1 sign drawn from an independent hash bit (the debiasing
    * trick), summed per (doc, dimension). Emitted SPARSE — one row per
    * non-zero (doc_id, dim, weight) — which is both the honest shape
    * of hashed BoW and what a downstream cosine/ANN stage consumes.
    * The engine-portable polynomial hash (not murmur) keeps the result
    * reproducible anywhere — the same rule the minhash family follows.
    *
    * Scale: tokenize + hash is map-side; ONE (doc, dim)-keyed
    * aggregate with partial combine; output ≤ min(tokens, n·d) rows.
    * No vocabulary table, no broadcast — that is the point of the
    * hashing trick at 100 TB: memory is O(d), not O(|vocab|). */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes
    val d = HashEmbedDims
    docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      // staged projections: codes once per token row, then the fold
      // (interpreted HOFs — Catalyst CSE won't dedupe repeats)
      .withColumn("codes", Hashes.charCodes(col("token")))
      .withColumn("h", Hashes.polyHash(col("codes")))
      .select(col("doc_id"), (col("h") % d).cast("int").as("dim"),
        when(expr(s"(h div $d) % 2") === 0, 1L).otherwise(-1L).as("sign"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("dim"))
  }

  lazy val hashEmbedSql: String = {
    import graft.functions.Hashes
    val d = HashEmbedDims
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |hashed AS (
       |  SELECT doc_id, ${Hashes.polyHashSql(Hashes.charCodesSql("token"))} AS h FROM tok),
       |signed AS (
       |  SELECT doc_id, CAST(h % $d AS INT) AS dim,
       |    CASE WHEN (h // $d) % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM hashed)
       |SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS weight
       |FROM signed GROUP BY 1, 2
       |HAVING SUM(sign) <> 0
       |ORDER BY doc_id, dim""".stripMargin
  }

  // ------------------------------------------------------------ #33m char entropy

  /** Character-unigram Shannon entropy per document (bits) — the
    * text-diversity signal quality pipelines cut on at the tails
    * (keyboard mash is low-entropy; base64/binary spray is
    * high-entropy). The whole computation is ONE codegen'd scalar
    * ([[graft.functions.CharEntropy]]) inside the corpus scan: no
    * per-character explode, no shuffle — the explode+groupBy
    * formulation the oracle uses would re-exchange the corpus at
    * character grain at 100 TB. Count-based decomposition keeps every
    * log argument a small integer (see the expression's bit-stability
    * contract). */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    // empty docs are filtered on BOTH sides: the oracle's chars CTE
    // produces no rows for an empty string (the doc silently vanishes)
    // while CharEntropy.compute would emit (0, 0, 0.0) — an honest
    // answer with no oracle row to match. Entropy of nothing is not a
    // quality signal anyway; empty docs are a length-filter concern.
    docs(spark, dir).filter(length(col("text")) > 0).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_cp"),
      size(array_distinct(split(col("text"), ""))).cast("long").as("n_distinct"),
      round(graft.functions.CharEntropy.of(col("text")), 6).as("char_entropy"))
      .orderBy(col("doc_id"))

  val charEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(text)), i -> text[i])) AS ch
      |  FROM documents WHERE len(text) > 0),
      |cnt AS (SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c FROM chars GROUP BY 1, 2),
      |terms AS (
      |  SELECT doc_id, list(c ORDER BY ch) AS cs, CAST(SUM(c) AS DOUBLE) AS n,
      |    COUNT(*) AS nd
      |  FROM cnt GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_cp, CAST(nd AS BIGINT) AS n_distinct,
      |  round(ln(n) / ln(CAST(2.0 AS DOUBLE))
      |    - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(cs, c -> c * (ln(c) / ln(CAST(2.0 AS DOUBLE))))),
      |      (a, x) -> a + x) / n, 6) AS char_entropy
      |FROM terms ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #33o readability

  /** FLESCH READING EASE per document — the classic readability
    * signal quality pipelines report next to the Gopher rules
    * (206.835 − 1.015·words/sentence − 84.6·syllables/word).
    * Syllables ≈ vowel groups (`[aeiouy]+`), counted over the WHOLE
    * lowercased text in one regex pass — a vowel group never spans a
    * space, so the text-level count equals the per-word sum without a
    * per-token interpreted HOF loop (the SURVEY §4 lesson). Sentences
    * = `[.!?]+` runs, floored at 1. Map-only single scan; constants
    * are LITERALS in both engines, ratios one IEEE divide each, so
    * the score hash-matches. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOn(docs(spark, dir))

  /** Frame-level core over any (doc_id, text) frame. */
  def readabilityOn(df: DataFrame): DataFrame =
    df
      .withColumn("n_words", size(tokens(col("text"))).cast("long"))
      .withColumn("n_sentences",
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1)).cast("long"))
      .withColumn("n_syllables",
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw", col("n_syllables").cast("double") /
        greatest(col("n_words"), lit(1)).cast("double"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(col("wps"), 6).as("words_per_sentence"),
        round(col("spw"), 6).as("syllables_per_word"),
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 6)
          .as("flesch"))
      .orderBy(col("doc_id"))

  val readabilitySql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len($tokensSql) AS BIGINT) AS n_words,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM documents),
       |r AS (
       |  SELECT *, CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
       |    CAST(n_syllables AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS spw
       |  FROM d)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  round(wps, 6) AS words_per_sentence,
       |  round(spw, 6) AS syllables_per_word,
       |  round(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * wps
       |    - CAST(84.6 AS DOUBLE) * spw, 6) AS flesch
       |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #33p compressibility

  /** COMPRESSION-RATIO quality signal — deflate as a crude language
    * model: repetitive boilerplate compresses far below natural
    * prose; random/base64 spray barely compresses. One codegen'd
    * scalar ([[graft.functions.DeflateLen]]) inside the corpus scan,
    * map-only. ROWS-GATED (no SQL oracle): the compressed length is
    * zlib byte accounting, not relational semantics — correctness is
    * held by TextCompressionSpec (independent local recompute +
    * ordering properties on handcrafted docs). */
  def compression(spark: SparkSession, dir: String): DataFrame =
    compressionOn(docs(spark, dir))

  /** Frame-level core over any (doc_id, text) frame. */
  def compressionOn(df: DataFrame): DataFrame =
    df
      .withColumn("n_bytes", octet_length(col("text")).cast("long"))
      .withColumn("n_deflate_bytes",
        graft.functions.DeflateLen.of(col("text")).cast("long"))
      .select(col("doc_id"), col("n_bytes"), col("n_deflate_bytes"),
        round(col("n_deflate_bytes").cast("double") /
          greatest(col("n_bytes"), lit(1L)).cast("double"), 6).as("deflate_ratio"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ #33r markup strip

  /** Markup patterns — the common Java/RE2 subset (no lookaround, no
    * dot-all reliance: script bodies match `[^<]*`, never `.`). */
  val ScriptRe = "<script>[^<]*</script>"
  val TagRe = "<[^>]+>"
  val EntityRe = "&[a-z]+;"

  /** HTML BOILERPLATE STRIP — the first pass of every web-crawl
    * pipeline (jusText/trafilatura's job, reduced to its relational
    * core): remove script blocks WITH their payload (the classic trap
    * — stripping only tags leaks `var x = 42;` into training text),
    * then tags, then decode the common entities, then collapse
    * whitespace. Per doc: tag/entity counts, raw vs clean length, and
    * the markup overhead fraction (how much of the crawl is
    * scaffolding — the bandwidth number a 100 TB ingest plans
    * around). Map-only: four regex passes fusing into the corpus
    * scan, no shuffle anywhere.
    *
    * The synthetic corpus is markup-free, so the driver-visible entry
    * first WRAPS it deterministically from doc_id (the [[piiScrub]]
    * dirtying precedent): every doc gets the html/body/p skeleton,
    * every 3rd a nav bar, every 5th a script block, every 7th an
    * entity-bearing paragraph — the oracle rebuilds identical markup.
    * [[stripMarkupOn]] is the reusable surface for real crawls. */
  def stripMarkupOn(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_raw_chars", length(col(textCol)).cast("long"))
      .withColumn("n_tags",
        size(regexp_extract_all(col(textCol), lit(TagRe), lit(0))).cast("long"))
      .withColumn("n_entities",
        size(regexp_extract_all(col(textCol), lit(EntityRe), lit(0))).cast("long"))
      .withColumn("clean_text",
        trim(regexp_replace(
          // SECOND script pass AFTER entity decode (round-12 property
          // sweep finding): "&lt;script&gt;evil()&lt;/script&gt;"
          // decodes into a live-looking script block whose payload
          // would otherwise ride into the clean text. Script blocks
          // only — decoded "<"/">" TEXT ("1 < 2 > 0", "<3") is what
          // the page displayed and must survive. Entity decode is
          // one level per pass (HTML semantics, browsers likewise),
          // so double-encoded input strips one level per run — the
          // documented non-idempotent class; everything else is a
          // fixpoint (StripMarkupPropertySpec).
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(col(textCol), ScriptRe, " "),
                    TagRe, " "),
                  "&amp;", "&"),
                "&lt;", "<"),
              "&gt;", ">"),
            ScriptRe, " "),
          "\\s+", " ")))
      .withColumn("n_clean_chars", length(col("clean_text")).cast("long"))
      .withColumn("markup_overhead",
        round(lit(1.0) - col("n_clean_chars").cast("double") /
          greatest(col("n_raw_chars"), lit(1L)).cast("double"), 6))

  private def markedUp(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("raw_html",
      concat(
        when(col("doc_id") % 3 === 0,
          lit("<nav><a href=\"/home\">Home</a> | <a href=\"/about\">About</a></nav> "))
          .otherwise(lit("")),
        lit("<html><body><p>"), col("text"), lit("</p>"),
        when(col("doc_id") % 7 === 0, lit("<p>Tom &amp; Jerry &lt;3</p>"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("<script>var x = 42; track();</script>"))
          .otherwise(lit("")),
        lit("</body></html>")))

  def stripMarkup(spark: SparkSession, dir: String): DataFrame =
    stripMarkupOn(markedUp(spark, dir), "raw_html")
      .select(col("doc_id"), col("n_raw_chars"), col("n_tags"), col("n_entities"),
        col("n_clean_chars"), col("markup_overhead"), col("clean_text"))
      .orderBy(col("doc_id"))

  val stripMarkupSql: String =
    s"""WITH marked AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN '<nav><a href="/home">Home</a> | <a href="/about">About</a></nav> ' ELSE '' END
       |    || '<html><body><p>' || text || '</p>'
       |    || CASE WHEN doc_id % 7 = 0 THEN '<p>Tom &amp; Jerry &lt;3</p>' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN '<script>var x = 42; track();</script>' ELSE '' END
       |    || '</body></html>' AS raw_html
       |  FROM documents),
       |stripped AS (
       |  SELECT doc_id,
       |    CAST(len(raw_html) AS BIGINT) AS n_raw_chars,
       |    CAST(len(regexp_extract_all(raw_html, '$TagRe')) AS BIGINT) AS n_tags,
       |    CAST(len(regexp_extract_all(raw_html, '$EntityRe')) AS BIGINT) AS n_entities,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        replace(replace(replace(
       |          regexp_replace(
       |            regexp_replace(raw_html, '$ScriptRe', ' ', 'g'),
       |            '$TagRe', ' ', 'g'),
       |          '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
       |        '$ScriptRe', ' ', 'g'),
       |      '\\s+', ' ', 'g')) AS clean_text
       |  FROM marked)
       |SELECT doc_id, n_raw_chars, n_tags, n_entities,
       |  CAST(len(clean_text) AS BIGINT) AS n_clean_chars,
       |  round(1.0 - CAST(len(clean_text) AS DOUBLE)
       |    / CAST(greatest(n_raw_chars, 1) AS DOUBLE), 6) AS markup_overhead,
       |  clean_text
       |FROM stripped ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #33s line-level dedup

  /** Words per synthetic line (the corpus has no newlines, so the
    * driver entry chunks the text deterministically — the strip_markup
    * dirtying precedent; a real crawl splits on '\n'). */
  val LineWords = 8

  /** A line carried by more than this many DISTINCT docs is
    * boilerplate and is removed from every doc. */
  val MaxLineDf = 10

  private val BoilerplateA = "subscribe to our newsletter today"
  private val BoilerplateB = "all rights reserved"

  /** The corpus exploded to (doc_id, pos, line): 8-word chunks plus
    * injected boilerplate (every doc ends with a newsletter plea,
    * every even doc also a rights notice) — the repeated-line material
    * line dedup exists to remove. */
  private def linedDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("words", filter(split(col("text"), " "), w => length(w) > 0))
      .withColumn("nl",
        greatest(ceil(size(col("words")) / lit(LineWords.toDouble)).cast("int"), lit(1)))
      .withColumn("lines0", expr(
        s"transform(sequence(0, nl - 1), i -> array_join(slice(words, i * $LineWords + 1, $LineWords), ' '))"))
      .withColumn("lines", concat(col("lines0"),
        when(col("doc_id") % 2 === 0, array(lit(BoilerplateA), lit(BoilerplateB)))
          .otherwise(array(lit(BoilerplateA)))))
      .select(col("doc_id"), posexplode_outer(col("lines")).as(Seq("pos", "line")))

  /** LINE-LEVEL BOILERPLATE DEDUP — the C4/CCNet/RefinedWeb pass that
    * content-grain dedup cannot replace: nav bars, cookie banners,
    * "all rights reserved" footers repeat across MILLIONS of pages
    * whose bodies are all distinct, so no document-level rule fires.
    * Lines whose document frequency exceeds [[MaxLineDf]] (counted
    * DISTINCT per doc) are removed from every document; per doc the
    * report carries total lines, removed lines, and the reassembled
    * clean text in original line order.
    *
    * Scale: a line-grain inverted index — one shuffle keyed by the
    * line, a df filter, one doc-keyed reassembly aggregate. No
    * pairing anywhere, so cost is linear in total lines regardless of
    * how viral a boilerplate line is (the df threshold REMOVES hot
    * lines rather than pairing them — the opposite failure mode of
    * near-dup's f² blow-up, needing no cap). The exploded relation is
    * checkpointed so the chunking HOF runs once, feeding both the df
    * count and the reassembly. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    cleanedDocs(spark, dir).orderBy(col("doc_id"))

  /** [[lineDedup]] without the presentation sort — the reusable
    * (doc_id, n_lines, n_removed, clean_text) relation downstream
    * composition (corpus_web_funnel) builds on. */
  private[pipeline] def cleanedDocs(spark: SparkSession, dir: String): DataFrame =
    dedupLines(linedDocs(spark, dir))

  /** The reusable line-grain pass: ANY (doc_id, pos, line) relation →
    * (doc_id, n_lines, n_removed, clean_text). Re-running it on its
    * own reassembled output removes nothing — hot-line removal takes
    * every occurrence, so survivors' document frequencies are
    * unchanged and stay under the threshold
    * (LineDedupPropertySpec's fixpoint sweep). */
  private[pipeline] def dedupLines(linedIn: DataFrame): DataFrame = {
    val lined = linedIn.localCheckpoint()
    // no broadcast hint: the hot-line relation is data-dependent
    // (bounded by |lines|/df only) — AQE decides the join strategy
    val hot = lined.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > MaxLineDf)
      .select(col("line"), lit(true).as("is_hot"))
    lined.join(hot, Seq("line"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("is_hot"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }

  /** The line-dedup CTE chain (w/nl/built/lined/hot/flagged/cleaned),
    * shared by the lineDedup/hotLines oracles and the web-funnel
    * composition oracle. Ends with `cleaned(doc_id, n_lines,
    * n_removed, clean_text)`. */
  private[pipeline] def lineCtesSql: String =
    s"""w AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS words
       |  FROM documents),
       |nl AS (
       |  SELECT doc_id, words, greatest(CAST(ceil(len(words) / $LineWords.0) AS INT), 1) AS n FROM w),
       |built AS (
       |  SELECT doc_id,
       |    list_concat(
       |      list_transform(range(0, n), i -> array_to_string(words[(i*$LineWords+1):(i*$LineWords+$LineWords)], ' ')),
       |      CASE WHEN doc_id % 2 = 0 THEN ['$BoilerplateA', '$BoilerplateB']
       |           ELSE ['$BoilerplateA'] END) AS lines
       |  FROM nl),
       |lined AS (
       |  SELECT doc_id, g.idx AS pos, lines[g.idx] AS line
       |  FROM built, LATERAL unnest(generate_series(1, len(lines))) AS g(idx)),
       |hot AS (
       |  SELECT line FROM lined GROUP BY line HAVING COUNT(DISTINCT doc_id) > $MaxLineDf),
       |flagged AS (
       |  SELECT l.doc_id, l.pos, l.line, (h.line IS NOT NULL) AS is_hot
       |  FROM lined l LEFT JOIN hot h ON l.line = h.line),
       |cleaned AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |    COALESCE(array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT is_hot), chr(10)), '') AS clean_text
       |  FROM flagged GROUP BY doc_id)""".stripMargin

  val lineDedupSql: String =
    s"""WITH $lineCtesSql
       |SELECT doc_id, n_lines, n_removed, clean_text
       |FROM cleaned ORDER BY doc_id""".stripMargin

  /** Ranked boilerplate report cap. */
  val HotLinesTopK = 50

  /** THE BOILERPLATE LEADERBOARD — [[lineDedup]]'s visibility twin
    * (the mm_hash_caps posture: what a threshold removes must be
    * inspectable): the top-[[HotLinesTopK]] removed lines by document
    * frequency, with df and total occurrence count. An operator reads
    * this to tune [[MaxLineDf]] and to catch a content line going
    * "viral" enough to be eaten by the filter. One line-keyed
    * aggregate + TakeOrdered (df desc, line) — never a global sort. */
  def hotLines(spark: SparkSession, dir: String): DataFrame =
    linedDocs(spark, dir)
      .groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("df") > MaxLineDf)
      .orderBy(col("df").desc, col("line"))
      .limit(HotLinesTopK)

  val hotLinesSql: String =
    s"""WITH $lineCtesSql
       |SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
       |FROM lined GROUP BY line HAVING COUNT(DISTINCT doc_id) > $MaxLineDf
       |ORDER BY df DESC, line LIMIT $HotLinesTopK""".stripMargin

  // ------------------------------------------------------------ #33n PII scrub

  /** PII patterns — the common Java/RE2 regex subset (character
    * classes, bounded repeats, no lookaround), so Spark and the
    * oracle match/replace identical spans. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** Generic PII detect + redact over any (doc_id, `textCol`) frame:
    * per-class match counts on the ORIGINAL text and a `clean_text`
    * with every span replaced by its class tag, in a fixed
    * email → IP → phone pass order (the classes are disjoint by
    * construction of the patterns, so order only fixes determinism).
    * Map-only: both counting and redaction are per-row regex scans
    * that fuse into the corpus read — the pre-training scrub pass
    * runs at input bandwidth at 100 TB. */
  def piiScrubOn(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("pii_total", col("n_emails") + col("n_ips") + col("n_phones"))
      .withColumn("clean_text",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>"))

  /** The synthetic corpus is PII-free, so the driver-visible entry
    * first DIRTIES it deterministically from doc_id (the same
    * synthesize-from-fields precedent as the multimodal pipelines):
    * every 3rd doc gains an email, every 4th an IPv4, every 5th a
    * phone — overlapping classes on doc_ids divisible by 12, 15, 20,
    * none on coprime ids, so counts and redactions are non-trivial
    * and the oracle rebuilds the identical dirty text. */
  private def dirtied(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("dirty_text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOn(dirtied(spark, dir), "dirty_text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        col("pii_total"), col("clean_text"))
      .orderBy(col("doc_id"))

  /** Per-source PII exposure report — the governance rollup over
    * [[piiScrub]]: how dirty is each ingest source, which class
    * dominates, what fraction of docs needs scrubbing. One few-key
    * groupBy with map-side combine over the scrub projection — the
    * rollup adds nothing to the scan's cost at 100 TB. */
  def piiRate(spark: SparkSession, dir: String): DataFrame =
    piiScrubOn(dirtied(spark, dir), "dirty_text")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pii_total") > 0, 1)).as("n_docs_with_pii"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_ips")).as("n_ips"),
        sum(col("n_phones")).as("n_phones"),
        round(count(when(col("pii_total") > 0, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("pii_doc_rate"))
      .orderBy(col("source"))

  val piiRateSql: String = {
    val email = EmailRe
    val ip = Ipv4Re
    val phone = PhoneRe
    s"""WITH d AS (
       |  SELECT doc_id, source, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |      || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS dirty_text
       |  FROM documents),
       |scrub AS (
       |  SELECT source,
       |    len(regexp_extract_all(dirty_text, '$email')) AS e,
       |    len(regexp_extract_all(dirty_text, '$ip')) AS i,
       |    len(regexp_extract_all(dirty_text, '$phone')) AS p
       |  FROM d)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COUNT(*) FILTER (e + i + p > 0) AS BIGINT) AS n_docs_with_pii,
       |  CAST(SUM(e) AS BIGINT) AS n_emails,
       |  CAST(SUM(i) AS BIGINT) AS n_ips,
       |  CAST(SUM(p) AS BIGINT) AS n_phones,
       |  round(CAST(COUNT(*) FILTER (e + i + p > 0) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE), 6) AS pii_doc_rate
       |FROM scrub GROUP BY source ORDER BY source""".stripMargin
  }

  val piiScrubSql: String = {
    // DuckDB '…' strings don't process backslash escapes, so the
    // runtime pattern (one backslash per escape) embeds verbatim
    val email = EmailRe
    val ip = Ipv4Re
    val phone = PhoneRe
    s"""WITH d AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |      || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS dirty_text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(dirty_text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(dirty_text, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(dirty_text, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(dirty_text, '$email'))
       |    + len(regexp_extract_all(dirty_text, '$ip'))
       |    + len(regexp_extract_all(dirty_text, '$phone')) AS BIGINT) AS pii_total,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(dirty_text, '$email', '<EMAIL>', 'g'),
       |      '$ip', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS clean_text
       |FROM d ORDER BY doc_id""".stripMargin
  }
}
