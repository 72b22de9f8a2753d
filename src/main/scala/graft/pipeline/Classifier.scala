package graft.pipeline

import graft.Tables
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality filtering (SURVEY.md §2c #37) — the
  * classifier pass every production pre-training corpus runs after
  * the heuristic battery: train a token-weight model that separates a
  * REFERENCE slice of the corpus (curated sources — the CCNet /
  * fastText "wiki-vs-crawl" recipe) from the rest, score every
  * document by its tokens' learned weights, sweep the keep threshold,
  * and select by DSIR-style hashed-feature importance weights
  * (Xie et al. 2023: importance = target-distribution likelihood /
  * raw-distribution likelihood over hashed n-gram buckets).
  *
  * Everything is exact and engine-portable by construction:
  *  - per-token / per-bucket weights are ONE IEEE division of exact
  *    BIGINT products, rounded to a fixed scale (no ln/exp — the
  *    log-odds sum is replaced by the rank-equivalent linear opinion
  *    pool: a document's score is the exact-DECIMAL mean of its
  *    tokens' smoothed class posteriors);
  *  - per-document sums run over DECIMAL(20,9) (associative, so any
  *    partitioning yields the same bits), cast to DOUBLE only for the
  *    final rounded division.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - training is one token-keyed aggregate with map-side combine —
  *    the topkTokens shuffle;
  *  - the MODEL is bounded by construction (top-[[ModelSize]] most
  *    discriminative tokens / [[DsirBuckets]] hash buckets), so
  *    scoring is a map-side explode + BROADCAST join + one doc-keyed
  *    aggregate — the corpus never shuffles on anything but doc_id;
  *  - the sweep is the thresholdSweep pattern: score once, expand by
  *    a broadcast |τ|-row literal relation, aggregate per threshold.
  *
  * Reference corpus slice: [[RefSources]], a pinned literal list (in
  * production: the curated-source keeplist). Labels therefore derive
  * from provenance, not from the text — scoring measures how
  * reference-like a document's VOCABULARY is, which is exactly the
  * CCNet selection signal. */
object Classifier {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))

  /** Whitespace tokens, lowercased, empties dropped (the corpus-wide
    * tokenization convention — TextAnalysis.tokens). */
  private def tokens(text: Column): Column =
    graft.functions.Tokens.tokens(text)

  private val tokensSql = "list_filter(string_split(lower(text), ' '), t -> len(t) > 0)"

  /** The curated "reference" sources (the wiki side of wiki-vs-crawl). */
  val RefSources: Seq[String] = Seq("src0", "src3", "src7", "src12", "src17")

  private val isRef: Column = col("source").isInCollection(RefSources)
  private val isRefSql: String =
    RefSources.map(s => s"'$s'").mkString("source IN (", ", ", ")")

  /** Model capacity: the top-N most discriminative tokens ship. */
  val ModelSize = 200

  /** Keep-threshold grid [[classifierSweep]] evaluates. */
  val ScoreSweep: Seq[Double] = Seq(0.40, 0.45, 0.50, 0.55, 0.60)

  /** DSIR hashed-feature bucket count (fixed model size regardless of
    * vocabulary — the published design's reason to hash at all). */
  val DsirBuckets = 4096

  /** Documents the DSIR selection keeps. */
  val DsirBudget = 100

  /** Buckets the DSIR model report shows (most informative first). */
  val DsirModelTop = 50

  /** THE balanced-prior posterior, the one place it is written:
    *   w = (df_ref+1)(n_raw+2) / [(df_ref+1)(n_raw+2) + (df_raw+1)(n_ref+2)]
    * ([[train]]'s scaladoc derives it). Every consumer — the model,
    * the drift report, their SQL twins — calls these two renderings,
    * so a smoothing change lands everywhere or nowhere. */
  private def weightExpr(dfRef: Column, dfRaw: Column,
      nRef: Column, nRaw: Column): Column =
    round(((dfRef + 1) * (nRaw + 2)).cast("double") /
      ((dfRef + 1) * (nRaw + 2) + (dfRaw + 1) * (nRef + 2)).cast("double"), 9)

  private def weightSql(dfRef: String, dfRaw: String,
      nRef: String, nRaw: String): String =
    s"round(CAST(($dfRef + 1) * ($nRaw + 2) AS DOUBLE) / " +
      s"CAST(($dfRef + 1) * ($nRaw + 2) + ($dfRaw + 1) * ($nRef + 2) AS DOUBLE), 9)"

  // ------------------------------------------------------- #37a train

  /** TRAIN — per-token BALANCED-PRIOR Bernoulli class posterior from
    * smoothed per-class document RATES:
    *   rate_ref = (df_ref+1)/(n_ref+2), rate_raw = (df_raw+1)/(n_raw+2),
    *   w(t) = rate_ref / (rate_ref + rate_raw)
    *        = (df_ref+1)(n_raw+2) / [(df_ref+1)(n_raw+2) + (df_raw+1)(n_ref+2)]
    * — the probability a document containing t is reference-class IF
    * the classes were equally likely. Rates (not raw dfs) matter: the
    * reference slice is a minority of the corpus, and a raw-df
    * posterior would saturate at the class prior for every
    * non-discriminative token, pushing all scores to the prior and
    * making a ½-centered keep threshold meaningless. With balanced
    * priors an uninformative token sits at exactly ½ and |w − ½|
    * ranks discriminativeness. One IEEE division of exact BIGINT
    * products. Overflow headroom: df·n stays inside int64 up to ~10⁹
    * docs per class; a corpus beyond that computes the two smoothed
    * rates as separate exact divisions and takes their double ratio —
    * same ordering, ±1 ulp on the 9th decimal (the exact-product form
    * exists for bit-level oracle parity, not as a scale requirement).
    * Ships the [[ModelSize]] most discriminative tokens. ONE
    * distinct-token explode + token-keyed aggregate (map-side
    * combine) + a broadcast 1-row class-size frame. */
  def train(spark: SparkSession, dir: String): DataFrame = {
    val sizes = docs(spark, dir)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("n_ref"),
        sum(when(isRef, 0L).otherwise(1L)).as("n_raw"))
    docs(spark, dir)
      .select(col("doc_id"), isRef.as("is_ref"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("df_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("df_raw"))
      .crossJoin(broadcast(sizes))
      .withColumn("weight",
        weightExpr(col("df_ref"), col("df_raw"), col("n_ref"), col("n_raw")))
      .orderBy(abs(col("weight") - 0.5).desc, col("token"))
      .limit(ModelSize)
      .select(col("token"), col("df_ref"), col("df_raw"), col("weight"))
  }

  private val modelCte: String =
    s"""sizes AS (
       |  SELECT CAST(SUM(CASE WHEN $isRefSql THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |         CAST(SUM(CASE WHEN $isRefSql THEN 0 ELSE 1 END) AS BIGINT) AS n_raw
       |  FROM documents),
       |model AS (
       |  SELECT token, df_ref, df_raw,
       |    ${weightSql("df_ref", "df_raw", "n_ref", "n_raw")} AS weight
       |  FROM (
       |    SELECT token,
       |      CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS df_ref,
       |      CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS df_raw
       |    FROM (
       |      SELECT doc_id, is_ref, unnest(list_distinct(toks)) AS token
       |      FROM (SELECT doc_id, $isRefSql AS is_ref, $tokensSql AS toks FROM documents))
       |    GROUP BY token) CROSS JOIN sizes
       |  ORDER BY abs(weight - 0.5) DESC, token LIMIT $ModelSize)""".stripMargin

  val trainSql: String =
    s"""WITH $modelCte
       |SELECT token, df_ref, df_raw, weight FROM model
       |ORDER BY abs(weight - 0.5) DESC, token""".stripMargin

  // ------------------------------------------------------- #37b score

  /** Occurrence-grain (doc_id, is_ref, token) relation. */
  private def occurrences(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), isRef.as("is_ref"),
        explode(tokens(col("text"))).as("token"))

  private val occurrencesSql: String =
    s"""occ AS (
       |  SELECT doc_id, source, is_ref, unnest(toks) AS token
       |  FROM (SELECT doc_id, source, $isRefSql AS is_ref, $tokensSql AS toks FROM documents))""".stripMargin

  /** SCORE — every document's reference-likeness: the exact-DECIMAL
    * mean of its token occurrences' model weights (tokens outside the
    * model contribute the uninformative prior ½; a ZERO-token document
    * keeps its row and scores 0, exactly as the deployed [[scoreExpr]]
    * does — the doc-meta left join below is what preserves it, since
    * an explode emits nothing for an empty array). The model side is
    * [[ModelSize]]-bounded, hence broadcast; the only corpus shuffle
    * is the doc_id aggregate. */
  def score(spark: SparkSession, dir: String): DataFrame =
    scoreFrame(spark, dir).orderBy(col("doc_id"))

  /** [[score]] without the presentation sort — the frame the
    * corpus-build pipeline filters and unions with the other drop
    * reasons (the keeplistFrame rule). */
  private[graft] def scoreFrame(spark: SparkSession, dir: String): DataFrame = {
    val model = train(spark, dir)
      .select(col("token"), col("weight").cast("decimal(20,9)").as("w"))
    val perDoc = occurrences(spark, dir)
      .join(broadcast(model), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tok_cnt"),
        sum(when(col("w").isNotNull, 1L).otherwise(0L)).as("known_cnt"),
        sum(coalesce(col("w"), lit("0.5").cast("decimal(20,9)"))).as("wsum"))
    docs(spark, dir).select(col("doc_id"), col("source"), isRef.as("is_ref"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("tok_cnt"), lit(0L)))
      .withColumn("n_known", coalesce(col("known_cnt"), lit(0L)))
      .withColumn("score",
        coalesce(round(col("wsum").cast("double") / col("tok_cnt").cast("double"), 6),
          lit(0.0)))
      .select(col("doc_id"), col("source"), col("is_ref"), col("n_tokens"),
        col("n_known"), col("score"), (col("score") >= 0.5).as("predicted_ref"))
  }

  private val scoredCte: String =
    s"""$modelCte,
       |$occurrencesSql,
       |per_doc AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS tok_cnt,
       |    CAST(SUM(CASE WHEN m.weight IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS known_cnt,
       |    round(CAST(SUM(COALESCE(CAST(m.weight AS DECIMAL(20,9)),
       |                            CAST(0.5 AS DECIMAL(20,9)))) AS DOUBLE) /
       |          CAST(COUNT(*) AS DOUBLE), 6) AS doc_score
       |  FROM occ LEFT JOIN model m USING (token)
       |  GROUP BY doc_id),
       |scored AS (
       |  SELECT d.doc_id, d.source, $isRefSql AS is_ref,
       |    COALESCE(p.tok_cnt, 0) AS n_tokens,
       |    COALESCE(p.known_cnt, 0) AS n_known,
       |    COALESCE(p.doc_score, 0.0) AS score
       |  FROM documents d LEFT JOIN per_doc p USING (doc_id))""".stripMargin

  val scoreSql: String =
    s"""WITH $scoredCte
       |SELECT doc_id, source, is_ref, n_tokens, n_known, score,
       |  (score >= 0.5) AS predicted_ref
       |FROM scored ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- #37b2 deployed model

  /** Persist the trained model as a parquet artifact — at production
    * scale the model trains ONCE on the reference snapshot and every
    * later scoring job (batch backfill or streaming ingest) loads the
    * artifact instead of recomputing it (the DedupIndex / keeplist
    * standing-state posture). ≤ [[ModelSize]] rows — one file. */
  def writeModel(spark: SparkSession, dir: String, path: String): Unit =
    train(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted model into driver memory — ≤ [[ModelSize]] rows
    * of (token, weight), the sanctioned K-row metadata collect. */
  def loadModel(spark: SparkSession, path: String): Seq[(String, java.math.BigDecimal)] =
    spark.read.parquet(path)
      .select(col("token"), col("weight").cast("decimal(38,9)"))
      .collect()
      .map(r => r.getString(0) -> r.getDecimal(1)).toSeq

  /** MAP-ONLY scoring expression from a materialized model — the
    * fastText deployment pattern: the bounded model ships INSIDE the
    * plan as a map literal, so scoring is a pure per-row projection
    * that fuses into whatever scan it sits on (no join, no shuffle, no
    * state) and runs identically in batch and Structured Streaming.
    * Arithmetic is bit-equal to [[score]]: per-token weights (scale-9
    * DECIMALs) accumulate in an exact DECIMAL(30,9) fold — [[score]]'s
    * sum type — cast to DOUBLE once, one division, one round. A token
    * outside the model contributes the ½ prior; an empty document
    * scores 0. */
  def scoreExpr(model: Seq[(String, java.math.BigDecimal)], text: Column): Column = {
    require(model.size <= ModelSize, s"model must be bounded by ModelSize=$ModelSize")
    val m = map(model.flatMap { case (t, w) =>
      Seq(lit(t), lit(w).cast("decimal(20,9)")) }: _*)
    val half = lit(new java.math.BigDecimal("0.5")).cast("decimal(20,9)")
    val toks = tokens(text)
    // Accumulate at DECIMAL(30,9) — [[score]]'s sum type — re-casting
    // each step: the (31,9) addition itself is exact and the values
    // (≤ tokens·1) never approach the precision bound, so the cast
    // only restores the accumulator type Spark's decimal-widening
    // rules would otherwise drift (38-precision adds LOSE scale).
    val wsum = aggregate(toks, lit(java.math.BigDecimal.ZERO).cast("decimal(30,9)"),
      (acc, t) => (acc + coalesce(element_at(m, t), half)).cast("decimal(30,9)"))
    round(wsum.cast("double") / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Deployed-path scoring over a PERSISTED model — the bench-only
    * probe entry's body (the ann_index_probe precedent): loads the
    * ≤ [[ModelSize]]-row artifact and scores the corpus with the
    * map-literal expression, so the bench isolates the steady-state
    * production scoring cost from [[score]]'s train-included
    * end-to-end timing. */
  def scorePrebuilt(spark: SparkSession, dir: String, modelPath: String): DataFrame = {
    val model = loadModel(spark, modelPath)
    docs(spark, dir).select(col("doc_id"), col("source"),
      scoreExpr(model, col("text")).as("score"))
  }

  // ------------------------------------------------------- #37c sweep

  /** THRESHOLD SWEEP — the keep-rate / precision / recall curve over
    * [[ScoreSweep]], against the provenance labels the model was
    * trained on (resubstitution — the curve that picks the shipping
    * threshold). Score once; expand by a broadcast |τ|-row literal;
    * one tiny-key aggregate. */
  def classifierSweep(spark: SparkSession, dir: String): DataFrame = {
    val tdim = { import spark.implicits._; ScoreSweep.toDF("threshold") }
    val keep = col("score") >= col("threshold")
    score(spark, dir)
      .select(col("is_ref"), col("score"))
      .crossJoin(broadcast(tdim))
      .groupBy(col("threshold"))
      .agg(
        sum(when(keep && col("is_ref"), 1L).otherwise(0L)).as("tp"),
        sum(when(keep && !col("is_ref"), 1L).otherwise(0L)).as("fp"),
        sum(when(!keep && col("is_ref"), 1L).otherwise(0L)).as("fn"),
        sum(when(!keep && !col("is_ref"), 1L).otherwise(0L)).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"), 6)))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"), 6)))
      .withColumn("accuracy",
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 6))
      .orderBy(col("threshold"))
  }

  val classifierSweepSql: String = {
    val tvals = ScoreSweep.map(t => s"($t)").mkString(", ")
    s"""WITH $scoredCte,
       |thr AS (SELECT CAST(th AS DOUBLE) AS threshold FROM (VALUES $tvals) t(th)),
       |conf AS (
       |  SELECT threshold,
       |    CAST(SUM(CASE WHEN score >= threshold AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN score >= threshold AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN score < threshold AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN score < threshold AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM scored CROSS JOIN thr
       |  GROUP BY threshold)
       |SELECT threshold, tp, fp, fn, tn,
       |  CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
       |  CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
       |  round(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
       |FROM conf ORDER BY threshold""".stripMargin
  }

  // ----------------------------------------------- #37c2 source report

  /** PER-SOURCE classifier dashboard — [[score]] rolled up by
    * provenance: each feed's doc count, how many clear the ½
    * threshold, and the mean score (exact-DECIMAL sum of the rounded
    * per-doc scores, so the mean is partitioning-stable). The
    * dedup_rate_by_source shape on the quality axis: the go/no-go
    * report read before onboarding a crawl or vendor drop. One
    * ~|sources|-key aggregate over the already-scored doc frame. */
  def classifierBySource(spark: SparkSession, dir: String): DataFrame =
    score(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted_ref"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("score").cast("decimal(16,6)")).as("ssum"))
      .withColumn("keep_rate",
        round(col("n_keep").cast("double") / col("n_docs").cast("double"), 6))
      .withColumn("mean_score",
        round(col("ssum").cast("double") / col("n_docs").cast("double"), 6))
      .select(col("source"), col("n_docs"), col("n_keep"),
        col("keep_rate"), col("mean_score"))
      .orderBy(col("source"))

  val classifierBySourceSql: String =
    s"""WITH $scoredCte
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  round(CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
       |  round(CAST(SUM(CAST(score AS DECIMAL(16,6))) AS DOUBLE) /
       |        CAST(COUNT(*) AS DOUBLE), 6) AS mean_score
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- #37c3 model drift

  /** Tokens the drift report shows (largest weight shift first). */
  val DriftTop = 50

  /** MODEL DRIFT — when to retrain the persisted classifier (the
    * [[graft.pipeline.Similarity]] cell-occupancy question asked of
    * THIS standing artifact): train the same balanced-prior posterior
    * independently on the EARLY and LATE halves of the corpus
    * (doc_id order standing in for ingest time) and report the
    * [[DriftTop]] tokens whose weights moved most. A stable corpus
    * shows shifts near 0 and the persisted model stands; a drifting
    * crawl shows reference-vocabulary churn and the model retrains
    * BEFORE its keep decisions rot. A token absent from a half scores
    * that half's OWN ZERO-COUNT posterior (the weight formula with
    * df = 0) — NOT a hard-coded ½, which under class imbalance sits
    * far from the estimator's no-evidence value and would let mere
    * hapax sampling noise manufacture shifts that outrank genuine
    * churn. Absence and presence are measured on one scale.
    *
    * One scan, ONE token-keyed aggregate: both halves' df counts are
    * conditional sums in the same groupBy (a token missing from a
    * half simply counts 0 there, which is exactly what the
    * zero-count posterior needs), the four class sizes are one
    * broadcast 1-row frame — no second aggregate, no full-outer
    * join. */
  def classifierDrift(spark: SparkSession, dir: String): DataFrame = {
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val halves = docs(spark, dir).crossJoin(broadcast(n))
      .withColumn("is_late", col("doc_id") * 2 >= col("n_docs"))
    val sizes = halves.agg(
      sum(when(!col("is_late") && isRef, 1L).otherwise(0L)).as("ne_ref"),
      sum(when(!col("is_late") && !isRef, 1L).otherwise(0L)).as("ne_raw"),
      sum(when(col("is_late") && isRef, 1L).otherwise(0L)).as("nl_ref"),
      sum(when(col("is_late") && !isRef, 1L).otherwise(0L)).as("nl_raw"))
    halves
      .select(col("is_late"), isRef.as("is_ref"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(
        sum(when(!col("is_late") && col("is_ref"), 1L).otherwise(0L)).as("de_ref"),
        sum(when(!col("is_late") && !col("is_ref"), 1L).otherwise(0L)).as("de_raw"),
        sum(when(col("is_late") && col("is_ref"), 1L).otherwise(0L)).as("dl_ref"),
        sum(when(col("is_late") && !col("is_ref"), 1L).otherwise(0L)).as("dl_raw"))
      .crossJoin(broadcast(sizes))
      .withColumn("w_early",
        weightExpr(col("de_ref"), col("de_raw"), col("ne_ref"), col("ne_raw")))
      .withColumn("w_late",
        weightExpr(col("dl_ref"), col("dl_raw"), col("nl_ref"), col("nl_raw")))
      .withColumn("shift", round(col("w_late") - col("w_early"), 9))
      .select(col("token"), col("w_early"), col("w_late"), col("shift"))
      .orderBy(abs(col("shift")).desc, col("token"))
      .limit(DriftTop)
  }

  val classifierDriftSql: String =
    s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |halves AS (
       |  SELECT doc_id, $isRefSql AS is_ref, $tokensSql AS toks,
       |    (doc_id * 2 >= n_docs) AS is_late
       |  FROM documents CROSS JOIN n),
       |sizes AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN NOT is_late AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ne_ref,
       |    CAST(SUM(CASE WHEN NOT is_late AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ne_raw,
       |    CAST(SUM(CASE WHEN is_late AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nl_ref,
       |    CAST(SUM(CASE WHEN is_late AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nl_raw
       |  FROM halves),
       |dfs AS (
       |  SELECT token,
       |    CAST(SUM(CASE WHEN NOT is_late AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS de_ref,
       |    CAST(SUM(CASE WHEN NOT is_late AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS de_raw,
       |    CAST(SUM(CASE WHEN is_late AND is_ref THEN 1 ELSE 0 END) AS BIGINT) AS dl_ref,
       |    CAST(SUM(CASE WHEN is_late AND NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS dl_raw
       |  FROM (
       |    SELECT is_late, is_ref, unnest(list_distinct(toks)) AS token FROM halves)
       |  GROUP BY token),
       |w AS (
       |  SELECT token,
       |    ${weightSql("de_ref", "de_raw", "ne_ref", "ne_raw")} AS w_early,
       |    ${weightSql("dl_ref", "dl_raw", "nl_ref", "nl_raw")} AS w_late
       |  FROM dfs CROSS JOIN sizes)
       |SELECT token, w_early, w_late, round(w_late - w_early, 9) AS shift
       |FROM w
       |ORDER BY abs(round(w_late - w_early, 9)) DESC, token
       |LIMIT $DriftTop""".stripMargin

  // ------------------------------------------------------- #37d DSIR

  /** Per-bucket DSIR statistics: hashed-token target/raw occurrence
    * mass and the smoothed importance ratio
    * p_target(b) / p_raw(b) = (ct+1)(R+B) / ((cr+1)(T+B)),
    * one IEEE division of exact BIGINT products (each < 2⁵³ far past
    * this corpus; a 100 TB run rescales counts per shard first). */
  private def dsirBucketStats(spark: SparkSession, dir: String): DataFrame = {
    // Stage the code-point array per token occurrence, THEN fold the
    // hash (the Hashes convention: HOFs are interpreted, keep each
    // expensive array in its own projection) — and FENCE the bucket
    // (guide §4.4 via OptimizerFence, r14): the downstream join on
    // bucket infers isnotnull(bucket), whose pushdown re-inlined the
    // whole interpreted hash chain into a Filter BELOW this projection
    // — every token occurrence paid the fold twice (plan-verified).
    val bucketed = occurrences(spark, dir)
      .withColumn("codes", Hashes.charCodes(col("token")))
      .withColumn("bucket", graft.functions.OptimizerFence.once(
        Hashes.polyHash(col("codes")) % DsirBuckets))
    val perBucket = bucketed
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("target_mass"),
        count(lit(1)).as("raw_mass"))
    val totals = perBucket
      .agg(sum(col("target_mass")).as("t_total"), sum(col("raw_mass")).as("r_total"))
    perBucket.crossJoin(broadcast(totals))
      .withColumn("ratio",
        round(((col("target_mass") + 1) * (col("r_total") + DsirBuckets)).cast("double") /
          ((col("raw_mass") + 1) * (col("t_total") + DsirBuckets)).cast("double"), 9))
      .select(col("bucket"), col("target_mass"), col("raw_mass"), col("ratio"))
  }

  private val dsirBucketsCte: String =
    s"""$occurrencesSql,
       |bucketed AS (
       |  SELECT doc_id, source, is_ref,
       |    ${Hashes.polyHashSql(Hashes.charCodesSql("token"))} % $DsirBuckets AS bucket
       |  FROM occ),
       |per_bucket AS (
       |  SELECT bucket,
       |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS target_mass,
       |    CAST(COUNT(*) AS BIGINT) AS raw_mass
       |  FROM bucketed GROUP BY bucket),
       |totals AS (
       |  SELECT CAST(SUM(target_mass) AS BIGINT) AS t_total,
       |         CAST(SUM(raw_mass) AS BIGINT) AS r_total FROM per_bucket),
       |ratios AS (
       |  SELECT bucket, target_mass, raw_mass,
       |    round(CAST((target_mass + 1) * (r_total + $DsirBuckets) AS DOUBLE) /
       |          CAST((raw_mass + 1) * (t_total + $DsirBuckets) AS DOUBLE), 9) AS ratio
       |  FROM per_bucket CROSS JOIN totals)""".stripMargin

  /** DSIR MODEL REPORT — the [[DsirModelTop]] most informative hash
    * buckets (importance ratio farthest from 1). The trained artifact
    * an operator inspects before a selection ships. */
  def dsirBuckets(spark: SparkSession, dir: String): DataFrame =
    dsirBucketStats(spark, dir)
      .orderBy(abs(col("ratio") - 1.0).desc, col("bucket"))
      .limit(DsirModelTop)

  val dsirBucketsSql: String =
    s"""WITH $dsirBucketsCte
       |SELECT bucket, target_mass, raw_mass, ratio FROM ratios
       |ORDER BY abs(ratio - 1.0) DESC, bucket LIMIT $DsirModelTop""".stripMargin

  /** DSIR SELECT — per-document importance = exact-DECIMAL mean of
    * its token occurrences' bucket ratios; keep the [[DsirBudget]]
    * highest (importance-weighted resampling's deterministic top-k
    * variant). The bucket model is ≤ [[DsirBuckets]] rows — broadcast
    * — so the corpus path is explode → map-side hash → broadcast join
    * → one doc_id aggregate → TakeOrdered. The occurrence frame is
    * deliberately RE-DERIVED for the scoring pass rather than
    * checkpointed out of [[dsirBucketStats]]: it is occurrence-grain
    * (wider than the corpus scan it comes from), so a second fused
    * map-only scan is cheaper than materializing it. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val ratios = dsirBucketStats(spark, dir)
      .select(col("bucket"), col("ratio").cast("decimal(20,9)").as("r"))
    occurrences(spark, dir)
      .withColumn("codes", Hashes.charCodes(col("token")))
      // fenced for the same reason as dsirBucketStats: the join's
      // inferred isnotnull otherwise doubles the interpreted hash fold
      .withColumn("bucket", graft.functions.OptimizerFence.once(
        Hashes.polyHash(col("codes")) % DsirBuckets))
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"), col("is_ref"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("rsum"))
      .withColumn("importance",
        round(col("rsum").cast("double") / col("n_tokens").cast("double"), 6))
      .select(col("doc_id"), col("source"), col("is_ref"), col("n_tokens"),
        col("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(DsirBudget)
  }

  val dsirSelectSql: String =
    s"""WITH $dsirBucketsCte
       |SELECT doc_id, source, is_ref,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  round(CAST(SUM(CAST(ratio AS DECIMAL(20,9))) AS DOUBLE) /
       |        CAST(COUNT(*) AS DOUBLE), 6) AS importance
       |FROM bucketed b JOIN ratios USING (bucket)
       |GROUP BY doc_id, source, is_ref
       |ORDER BY importance DESC, doc_id LIMIT $DsirBudget""".stripMargin
}
