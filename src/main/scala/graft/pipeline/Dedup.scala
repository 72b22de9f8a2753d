package graft.pipeline

import graft.Tables
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` / `embeddings` tables
  * (SURVEY.md §2c #24-28) — the dedup family a large-scale
  * training-data pipeline needs.
  *
  * Scale posture (100 TB): every variant is
  * per-row-projection → shuffle-on-small-key → partition-local work.
  * Candidate generation never compares all pairs: exact dedup shuffles
  * on a 128-bit digest; MinHash/SimHash shuffle on (band, signature)
  * buckets; the n-gram variant shuffles on shingle (inverted index).
  * The only quadratic work is *within* a bucket/shingle group, whose
  * size is bounded by design (band collisions are rare for non-dups).
  */
object Dedup {

  import Hashes._

  val ShingleK = 5          // char 5-grams
  val JaccardThreshold = 0.5
  val HammingThreshold = 2  // of 32 simhash bits (≤3 is pigeonhole-covered by 4 blocks)
  val CosineThreshold = 0.4

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))

  // ------------------------------------------------------------ #24 exact

  /** Exact dedup: group by md5(text) — the canonical content-addressed
    * dedup. One shuffle on the digest; map-side partial agg collapses
    * duplicates before the exchange. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc_id"))
      .orderBy(col("canonical_doc_id"))

  val exactSql: String =
    """SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
      |FROM documents GROUP BY 1 ORDER BY canonical_doc_id""".stripMargin

  /** Exact dedup after canonical normalization (lowercase, strip
    * non-alphanumerics, collapse whitespace) — catches the
    * near-exact duplicates raw md5 misses (C4-style cleanup). Same
    * single-shuffle shape as [[exact]]. */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame = {
    val canon = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")
    docs(spark, dir)
      .groupBy(md5(trim(canon)).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc_id"))
      .orderBy(col("canonical_doc_id"))
  }

  val exactNormalizedSql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest,
      |  COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
      |FROM documents GROUP BY 1
      |ORDER BY canonical_doc_id""".stripMargin

  // ------------------------------------------------------------ #25 n-gram Jaccard

  /** Words per shingle: 4-grams keep the candidate-pair count ~25×
    * below 3-grams on a low-entropy corpus (hot shingles generate f²
    * pairs in ANY inverted-index/LSH scheme — shingle rarity is the
    * scale lever, not the join strategy). */
  val ShingleWords = 4

  /** Word-4-gram shingle set from a pre-staged token array column.
    * `toks` MUST be a materialized column (not an inline expression):
    * interpreted HOFs don't CSE, so an inline `split+filter` would be
    * re-evaluated for every element_at. */
  private[graft] def wordShingles(toks: Column): Column =
    // Native codegen'd shingling (r14, guide §1.2 per-task work): the
    // former when/sequence/transform/concat_ws/array_distinct HOF tree
    // evaluated interpreted per row; [[graft.functions.WordShingles]]
    // is one primitive loop with identical values — same concat_ws
    // null-skipping, same first-occurrence distinct order, same empty
    // array for short or NULL token lists.
    graft.functions.WordShingles.shingles(toks, ShingleWords)

  private val wordShinglesSql: String = {
    val concat = (0 until ShingleWords).map(o => s"tokens[i+$o]").mkString(" || ' ' || ")
    s"""list_distinct(list_transform(generate_series(1, len(tokens) - ${ShingleWords - 1}),
       |      i -> $concat))""".stripMargin
  }

  /** Hot-shingle document-frequency cap: shingles occurring in more
    * than this many documents are dropped from the inverted index
    * BEFORE pair generation. A shingle shared by f docs emits f²
    * candidate pairs no matter how the join is executed (AQE can split
    * a skewed join's INPUT, never its output), and a 100 TB web corpus
    * is full of exactly such shingles — license blocks, boilerplate
    * headers, navigation chrome. Capping df bounds the candidate count
    * by C·|inverted index| and, as a bonus, improves precision: viral
    * boilerplate stops gluing unrelated docs together. Similarity is
    * then Jaccard/containment over the CAPPED shingle universe — the
    * same stopword-removal semantics on both the Spark and oracle
    * sides, so results stay hash-comparable. */
  val MaxShingleDf = 50

  /** Shared inverted-index build for [[ngramJaccard]] / [[containment]]:
    * word-shingle sets → df-capped inverted index → per-doc sizes +
    * per-pair common counts. Returns (sizes, candidates).
    *
    * Scale shape: the df aggregation is a groupBy (map-side combine,
    * AQE-splittable) — NOT a count window, which would pin a hot
    * shingle's postings in one task. The hot-shingle relation is tiny
    * by construction (only df > [[MaxShingleDf]] survivors), so the
    * anti-join broadcasts; `inv` feeds the df agg and the probe, hence
    * the localCheckpoint (interpreted shingle HOFs would otherwise
    * re-evaluate per consumer — the kmeans/IVF lesson). */
  private def cappedShingleFrames(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // The short-doc filter tests the CHEAP staged token column, and the
    // explode is the outer variant — both to keep the optimizer from
    // inlining the expensive shingle expression into a pushed-down
    // filter (see explodedShingleHashes scaladoc).
    val sh = docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.Tokens.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleWords)
      .select(col("doc_id"), wordShingles(col("toks")).as("shingles"))
    val inv = sh.select(col("doc_id"), explode_outer(col("shingles")).as("shingle"))
      .localCheckpoint()
    val hot = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf)
      .select(col("shingle"))
    val invC = inv.join(hot, Seq("shingle"), "left_anti")
    val sizes = invC.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val candidates = invC.as("a").join(invC.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_common"))
    (sizes, candidates)
  }

  /** Test-visible candidate-pair frame (pre-threshold): with the df
    * cap active, its row count is bounded by [[MaxShingleDf]]·|index|
    * even when one viral shingle appears in every document —
    * NgramCapSpec drives that corpus through here. */
  private[pipeline] def ngramCandidates(spark: SparkSession, dir: String): DataFrame =
    cappedShingleFrames(spark, dir)._2

  /** The shared df-cap + sizes + pairing CTE chain, generated from the
    * same constants as the Spark side (used by the jaccard,
    * containment and cluster oracles). */
  private def cappedCommonSql: String =
    s"""inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |hot AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) > $MaxShingleDf),
       |invc AS (SELECT doc_id, shingle FROM inv WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM invc GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_common
       |  FROM invc a JOIN invc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** n-gram Jaccard near-dup pairs via an inverted shingle index —
    * explode shingles, drop hot shingles (df > [[MaxShingleDf]]),
    * self-join on the shingle (shuffle on shingle, never all-pairs),
    * count common, Jaccard = |∩| / |∪| over the capped universe.
    * The same formulation runs verbatim at 100 TB: the df cap bounds
    * the f² pair blow-up, and AQE handles residual join-input skew. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFrame(spark, dir).orderBy(col("doc_id_1"), col("doc_id_2"))

  /** [[ngramJaccard]] without the presentation sort — the frame
    * [[clusterLabels]] composes with: its next step is the components
    * union/shuffle, so a global sort exchange here would be pure waste
    * (the keeplistFrame rule applied to the edge relation). */
  private def ngramJaccardFrame(spark: SparkSession, dir: String): DataFrame = {
    val (sizes, common) = cappedShingleFrames(spark, dir)
    // No broadcast hint on `sizes`: it is per-doc (corpus-sized), so a
    // mandatory broadcast would OOM when the corpus outgrows executor
    // memory. The candidate-pair side is small post-LSH/threshold, so
    // AQE broadcasts whichever side is actually small at runtime.
    common
      .join(sizes.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("s1.sz") + col("s2.sz") - col("n_common")).cast("double"), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("n_common"), col("jaccard"))
  }

  val ngramJaccardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $wordShinglesSql AS shingles
       |  FROM toks WHERE len(tokens) >= $ShingleWords),
       |$cappedCommonSql
       |SELECT doc_id_1, doc_id_2, n_common,
       |  round(CAST(n_common AS DOUBLE) / CAST(s1.sz + s2.sz - n_common AS DOUBLE), 6) AS jaccard
       |FROM common
       |JOIN sizes s1 ON doc_id_1 = s1.doc_id
       |JOIN sizes s2 ON doc_id_2 = s2.doc_id
       |WHERE round(CAST(n_common AS DOUBLE) / CAST(s1.sz + s2.sz - n_common AS DOUBLE), 6) >= $JaccardThreshold
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** Containment threshold: |A∩B|/min(|A|,|B|) at or above this pairs
    * the docs even when symmetric Jaccard stays below its cut. */
  val ContainmentThreshold = 0.8

  /** Shingle-containment near-dup pairs — the ASYMMETRIC companion of
    * [[ngramJaccard]]: containment C(A→B) = |A∩B| / |A| flags a doc
    * EMBEDDED in a larger one (quote farms, concatenated dumps,
    * boilerplate wrappers), which symmetric Jaccard structurally
    * misses once the size ratio grows (J ≤ |A|/|B| no matter how
    * complete the overlap). Emits both directions plus the Jaccard
    * for context, and `jaccard_missed` marking pairs only this
    * operator catches.
    *
    * Scale: identical layout to [[ngramJaccard]] — one inverted-index
    * shuffle on the shingle, pair aggregation on (doc1, doc2), no
    * all-pairs anywhere; the same [[MaxShingleDf]] hot-shingle
    * frequency cap bounds the pair count. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val (sizes, common) = cappedShingleFrames(spark, dir)
    common
      .join(sizes.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      .withColumn("containment_1", round(col("n_common").cast("double") / col("s1.sz").cast("double"), 6))
      .withColumn("containment_2", round(col("n_common").cast("double") / col("s2.sz").cast("double"), 6))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("s1.sz") + col("s2.sz") - col("n_common")).cast("double"), 6))
      .filter(greatest(col("containment_1"), col("containment_2")) >= ContainmentThreshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("n_common"),
        col("containment_1"), col("containment_2"), col("jaccard"),
        (col("jaccard") < JaccardThreshold).as("jaccard_missed"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  val containmentSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $wordShinglesSql AS shingles
       |  FROM toks WHERE len(tokens) >= $ShingleWords),
       |$cappedCommonSql,
       |scored AS (
       |  SELECT doc_id_1, doc_id_2, n_common,
       |    round(CAST(n_common AS DOUBLE) / CAST(s1.sz AS DOUBLE), 6) AS containment_1,
       |    round(CAST(n_common AS DOUBLE) / CAST(s2.sz AS DOUBLE), 6) AS containment_2,
       |    round(CAST(n_common AS DOUBLE) / CAST(s1.sz + s2.sz - n_common AS DOUBLE), 6) AS jaccard
       |  FROM common
       |  JOIN sizes s1 ON doc_id_1 = s1.doc_id
       |  JOIN sizes s2 ON doc_id_2 = s2.doc_id)
       |SELECT doc_id_1, doc_id_2, n_common, containment_1, containment_2, jaccard,
       |  (jaccard < $JaccardThreshold) AS jaccard_missed
       |FROM scored
       |WHERE greatest(containment_1, containment_2) >= $ContainmentThreshold
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** Duplicate clustering — the final stage of a dedup pipeline:
    * connected components over the near-dup candidate graph
    * (ngramJaccard pairs at τ=$JaccardThreshold), labeling every
    * clustered doc with its component's minimum doc_id and electing
    * that doc canonical.
    *
    * Iterative min-label propagation to the fixpoint — the fixpoint is
    * the true component minimum, independent of iteration order, so
    * Spark's loop and the oracle's recursive CTE agree exactly.
    * Scale: each iteration is one join+groupBy on the (post-filter,
    * tiny relative to the corpus) edge set; iterations ≈ component
    * diameter; `localCheckpoint` truncates lineage per round. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy(col("doc_id"))

  /** [[clusters]] without the presentation sort — the frame keeplist
    * composes with: its next step is a join, so a global sort exchange
    * here would be pure waste (keeplist sorts once, at the end). */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    componentsFromPairs(ngramJaccardFrame(spark, dir).select(col("doc_id_1"), col("doc_id_2")))

  /** Connected components over an undirected pair relation
    * (doc_id_1, doc_id_2) — min-label fixpoint with pointer jumping,
    * shared by [[clusters]] (exact ngram edges) and [[minhashClusters]]
    * (LSH-estimated edges). Output: (doc_id, cluster_id, is_canonical),
    * unsorted (composing callers sort once, at the end). */
  private[pipeline] def componentsFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_id_1").as("a"), col("doc_id_2").as("b"))
      .unionByName(pairs.select(col("doc_id_2").as("a"), col("doc_id_1").as("b")))
      // size the loop's partitioning to the EDGE relation, not to the
      // pair-generation stage it came from (r13 optimization round):
      // a keyed repartition goes through AQE coalescing, so the width
      // tracks edge bytes — small here, wide on a corpus whose
      // duplicate graph is actually large. Keyed by B (r14): every
      // fixpoint iteration probes edges ON b, so a b-keyed checkpoint
      // is reused by EVERY iteration with no further edge exchange —
      // the a-keyed layout re-shuffled the (largest) edge relation
      // once per iteration.
      .repartition(col("b"))
      .localCheckpoint()
    // NOTE (r14, measured): pinning labels to the edge width with an
    // explicit repartition(p, doc) here and before each iteration's
    // checkpoint was TRIED and reverted — at bench scale AQE
    // broadcasts the label-grain sides of every loop join, so the
    // co-partitioning bought nothing while its exchange added one job
    // per iteration (dedup_minhash_clusters 84 → 89 jobs).
    var labels = edges.select(col("a").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val nbrMin = edges
        .join(labels.select(col("doc").as("nb"), col("label").as("nb_label")),
          col("b") === col("nb"))
        .groupBy(col("a")).agg(min(col("nb_label")).as("nbr_min"))
      val once = labels.join(nbrMin, labels("doc") === nbrMin("a"), "left")
        .select(col("doc"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("lbl1"))
      // pointer jump (label ← label's label): chains collapse in
      // O(log diameter) rounds instead of O(diameter) — same fixpoint
      // (labels stay component members, monotonically decreasing)
      val updated = once.as("x")
        .join(labels.select(col("doc").as("jd"), col("label").as("jl")).as("y"),
          col("x.lbl1") === col("y.jd"), "left")
        .select(col("x.doc").as("doc"), col("x.label").as("label"),
          least(col("x.lbl1"), coalesce(col("y.jl"), col("x.lbl1"))).as("new_label"))
        .localCheckpoint()
      converged = updated.filter(col("new_label") < col("label")).isEmpty
      labels = updated.select(col("doc"), col("new_label").as("label"))
    }
    labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"),
        (col("doc") === col("label")).as("is_canonical"))
  }

  /** The shared connected-components CTE chain (shingles → inverted
    * index → thresholded edges → recursive reachability) — used by
    * both the clusters oracle and the keep-list oracle. */
  private lazy val clusterCtes: String = {
    val concat = (0 until ShingleWords).map(o => s"tokens[i+$o]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tokens) - ${ShingleWords - 1}),
       |      i -> $concat)) AS shingles
       |  FROM toks WHERE len(tokens) >= $ShingleWords),
       |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |hot AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) > $MaxShingleDf),
       |invc AS (SELECT doc_id, shingle FROM inv WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM invc GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
       |  FROM invc a JOIN invc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges0 AS (
       |  SELECT d1, d2 FROM common
       |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE round(CAST(c AS DOUBLE) / CAST(s1.sz + s2.sz - c AS DOUBLE), 6) >= $JaccardThreshold),
       |edges AS (SELECT d1 AS a, d2 AS b FROM edges0 UNION ALL SELECT d2, d1 FROM edges0),
       |verts AS (SELECT DISTINCT a AS doc FROM edges),
       |reach AS (
       |  SELECT doc, doc AS r FROM verts
       |  UNION
       |  SELECT e.b AS doc, reach.r FROM reach JOIN edges e ON e.a = reach.doc)""".stripMargin
  }

  lazy val clustersSql: String =
    s"""WITH RECURSIVE
       |$clusterCtes
       |SELECT doc AS doc_id, MIN(r) AS cluster_id, (doc = MIN(r)) AS is_canonical
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  /** The dedup pipeline's END PRODUCT — a per-document keep/drop
    * decision composing exact dedup (md5 canonical election) with
    * near-dup clustering ([[clusters]]): a doc is dropped as
    * `exact_dup` when a lower doc_id carries identical bytes, else as
    * `near_dup` when it sits in a near-dup cluster it isn't canonical
    * of, else kept. Exactly the C4/RefinedWeb-style retention pass a
    * 100 TB corpus goes through; every stage is the same
    * one-shuffle-per-key layout as its standalone operator. */
  def keeplist(spark: SparkSession, dir: String): DataFrame =
    keeplistFrame(spark, dir).orderBy(col("doc_id"))

  /** [[keeplist]] without the presentation sort — the frame
    * [[rateBySource]] and the corpus-build pipeline compose with:
    * their next step is a join/aggregate, so a global sort exchange
    * here would be pure waste (the same rule as clusterLabels /
    * minhashPairs). */
  private[graft] def keeplistFrame(spark: SparkSession, dir: String): DataFrame = {
    val exact = docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .withColumn("exact_canon", min(col("doc_id")).over(Window.partitionBy(col("digest"))))
    val clus = clusterLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
    exact.join(clus, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("doc_id") =!= col("exact_canon"), "exact_dup")
          .when(col("cluster_id").isNotNull && !col("is_canonical"), "near_dup")
          .otherwise("kept"))
      .select(col("doc_id"), col("reason"), (col("reason") === "kept").as("keep"))
  }

  lazy val keeplistSql: String =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |clus AS (
       |  SELECT doc AS doc_id, MIN(r) AS cluster_id, (doc = MIN(r)) AS is_canonical
       |  FROM reach GROUP BY doc),
       |ex AS (
       |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_canon
       |  FROM documents),
       |reasons AS (
       |  SELECT e.doc_id,
       |    CASE WHEN e.doc_id <> e.exact_canon THEN 'exact_dup'
       |         WHEN c.doc_id IS NOT NULL AND NOT c.is_canonical THEN 'near_dup'
       |         ELSE 'kept' END AS reason
       |  FROM ex e LEFT JOIN clus c ON e.doc_id = c.doc_id)
       |SELECT doc_id, reason, (reason = 'kept') AS keep
       |FROM reasons ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #25h shingle novelty

  /** PER-DOCUMENT NOVELTY under corpus order — for each doc, the
    * fraction of its distinct word-shingles whose FIRST corpus
    * occurrence (minimum doc_id) is the doc itself: 1.0 = entirely
    * new text, 0.0 = every shingle already seen in an earlier doc.
    * The curation lens between exact dedup (whole-doc) and span
    * coverage (which windows): how much each doc ADDS to the corpus,
    * the marginal-contribution ordering dedup-aware samplers weight
    * by. Uses the UNCAPPED shingle universe — boilerplate is exactly
    * what novelty should count against, so the df cap that protects
    * pair generation would bias this metric.
    *
    * Scale: no pair generation at all — one groupBy(shingle) min
    * (map-side combine), one co-partitioned join back on shingle
    * (a hot shingle's postings meet a 1-row first, AQE-splittable),
    * one doc_id rollup. Linear in the inverted index, the cheapest
    * op in the dedup family. */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val inv = docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.Tokens.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleWords)
      .select(col("doc_id"), explode_outer(wordShingles(col("toks"))).as("shingle"))
      .localCheckpoint() // feeds the first-occurrence agg AND the probe
    val firsts = inv.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    inv.join(firsts, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ratio",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  val shingleNoveltySql: String = {
    val concat = (0 until ShingleWords).map(o => s"tokens[i+$o]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tokens) - ${ShingleWords - 1}),
       |      i -> $concat)) AS shingles
       |  FROM toks WHERE len(tokens) >= $ShingleWords),
       |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM inv GROUP BY shingle)
       |SELECT i.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  round(CAST(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
       |FROM inv i JOIN f ON i.shingle = f.shingle
       |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ #25g dedup rate by source

  /** Duplication-rate dashboard per provenance group — [[keeplist]]'s
    * verdicts rolled up by source: how duplicated is each feed, and
    * how much survives curation (the go/no-go signal for onboarding a
    * new crawl or vendor drop). One doc-keyed join of two doc-grain
    * frames, then a ~|sources|-key aggregate with map-side combine —
    * deliberately an aggregation, not a source-partitioned window. */
  def rateBySource(spark: SparkSession, dir: String): DataFrame =
    rateRollup(keeplistFrame(spark, dir), spark, dir)

  /** The shared source rollup over any doc-grain verdict frame. */
  private def rateRollup(verdicts: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    verdicts.join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("reason") === "exact_dup", 1L).otherwise(0L)).as("n_exact_dups"),
        sum(when(col("reason") === "near_dup", 1L).otherwise(0L)).as("n_near_dups"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("dup_rate", round(
        (col("n_exact_dups") + col("n_near_dups")).cast("double")
          / col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Persist [[keeplist]]'s doc-grain verdicts as a parquet artifact.
    * At production scale the keeplist is computed ONCE per corpus
    * snapshot and every downstream report reads the artifact — the
    * full dedup pipeline (LSH + clustering) must not re-run per
    * dashboard refresh (the DedupIndex / classifier-model
    * standing-state rule). Doc-grain rows, written partitioned-free:
    * downstream consumers join it on doc_id, so Spark's default
    * split planning is the right layout. */
  def writeKeeplist(spark: SparkSession, dir: String, path: String): Unit =
    keeplistFrame(spark, dir).write.mode("overwrite").parquet(path)

  /** [[rateBySource]] over a PERSISTED keeplist artifact — the
    * production report path: one scan of the doc-grain artifact
    * joined to provenance + the ~|sources|-key rollup; the dedup
    * pipeline itself never re-runs. */
  def rateBySourceFrom(spark: SparkSession, dir: String, keeplistPath: String): DataFrame =
    rateRollup(spark.read.parquet(keeplistPath), spark, dir)

  lazy val rateBySourceSql: String =
    s"""WITH kl AS ($keeplistSql),
       |agg AS (
       |  SELECT d.source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN kl.reason = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       |    CAST(SUM(CASE WHEN kl.reason = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
       |    CAST(SUM(CASE WHEN kl.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM kl JOIN documents d USING (doc_id)
       |  GROUP BY d.source)
       |SELECT source, n_docs, n_exact_dups, n_near_dups, n_kept,
       |  round(CAST(n_exact_dups + n_near_dups AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------------------ #25c decontamination

  /** Benchmark slice for [[decontaminate]]: every BenchmarkMod-th doc
    * stands in for the held-out eval suites (deterministic, so the
    * oracle reproduces the slice exactly). */
  val BenchmarkMod = 20

  /** Train/test decontamination — flag corpus documents sharing any
    * word-[[ShingleWords]]-gram with a benchmark set (the GPT-3
    * appendix-C n-gram overlap rule; production pipelines run it
    * against every eval suite before training). Output: one row per
    * CONTAMINATED corpus doc with how many benchmark docs and distinct
    * shingles it collides with.
    *
    * Scale: the benchmark side is tiny by construction (eval suites,
    * not corpora), so its exploded shingle index is the natural
    * broadcast side — AQE picks that up without a mandatory hint, and
    * the 100 TB corpus side stays a map-side probe: no corpus-keyed
    * shuffle anywhere, the only exchange is the per-doc count
    * aggregation over the (rare) colliding rows. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrame(spark, dir).orderBy(col("doc_id"))

  /** [[decontaminate]] without the presentation sort — the frame the
    * corpus-build pipeline unions with the other drop reasons (a sort
    * under a Union survives optimisation as its own range exchange
    * and sampling job — the keeplistFrame rule). */
  private[graft] def decontaminateFrame(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.Tokens.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleWords)
      .select(col("doc_id"), wordShingles(col("toks")).as("shingles"))
    val inv = sh.select(col("doc_id"), explode_outer(col("shingles")).as("shingle"))
    val bench = inv.filter(col("doc_id") % BenchmarkMod === 0)
      .select(col("doc_id").as("bench_doc_id"), col("shingle"))
    inv.filter(col("doc_id") % BenchmarkMod =!= 0)
      .join(bench, "shingle")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_doc_id")).as("n_benchmark_docs"),
        countDistinct(col("shingle")).as("n_shared_shingles"))
  }

  val decontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $wordShinglesSql AS shingles
       |  FROM toks WHERE len(tokens) >= $ShingleWords),
       |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |bench AS (SELECT doc_id AS bench_doc_id, shingle FROM inv WHERE doc_id % $BenchmarkMod = 0)
       |SELECT c.doc_id,
       |  COUNT(DISTINCT b.bench_doc_id) AS n_benchmark_docs,
       |  COUNT(DISTINCT c.shingle) AS n_shared_shingles
       |FROM inv c JOIN bench b ON c.shingle = b.shingle
       |WHERE c.doc_id % $BenchmarkMod <> 0
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------------------ #26 MinHash + LSH

  /** MinHash + banded LSH candidate pairs: per-row signature (map-only)
    * → explode ${Hashes.NumBands} band signatures → shuffle on
    * (band, sig) → pairs within a bucket. est_jaccard = fraction of
    * equal minhashes. The standard sub-quadratic dedup layout. */
  /** Per-doc distinct shingle hashes, exploded to (doc_id, h) rows.
    * Staged projections (codes → hashes): each expensive array is
    * evaluated once per row (see Hashes scaladoc).
    *
    * explode_outer, NOT explode: plain explode makes
    * InferFiltersFromGenerate add `size(shash) > 0`, which
    * PushPredicateThroughProject inlines into a scan-level Filter that
    * re-evaluates the whole interpreted HOF tree per row — with
    * `slice(codes…)` re-building the codes array per shingle, that
    * filter alone is O(len²) per doc (measured 60s vs 3s at sf0.1).
    * Shingle arrays are never empty (greatest(…,1) lower bound), so
    * the outer variant emits identical rows. */
  private def explodedShingleHashes(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.ShingleHash.shingleHashes(lower(col("text")), ShingleK).as("shash"))
      .select(col("doc_id"), explode_outer(col("shash")).as("h"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy(col("doc_id_1"), col("doc_id_2"))

  /** [[minhashLsh]] without the presentation sort — the frame
    * [[minhashClusters]] composes with (its next step is a filter +
    * fixpoint join, so a global sort exchange here would be waste). */
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Signature via explode + groupBy instead of 16 interpreted
    // array-HOF passes: the per-permutation mins are codegen'd
    // aggregates with map-side partial combine — one narrow shuffle on
    // doc_id, ~10× faster, bit-identical values.
    // localCheckpoint: the sigs subtree feeds THREE consumers (the
    // band explode and both est_jaccard sides) — without it the full
    // scan + hash + 16-aggregate signature pass executes three times
    // (Spark shares nothing across references without a persist; the
    // kmeans/IVF lesson)
    val sigs = explodedShingleHashes(spark, dir)
      .groupBy(col("doc_id"))
      .agg(min((col("h") * minhashA(0) + minhashB(0)) % M).as("m0"),
        (1 until NumHashes).map(j =>
          min((col("h") * minhashA(j) + minhashB(j)) % M).as(s"m$j")): _*)
      .select(col("doc_id"), array((0 until NumHashes).map(j => col(s"m$j")): _*).as("sig"))
      .localCheckpoint()
    // `sigs` is per-doc (corpus-sized): no broadcast hint — AQE picks
    // broadcast only when the surviving side is actually small.
    bandPairs(sigs)
      .join(sigs.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(sigs.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      // native agreement count ≡ the oracle's list_filter position
      // compare (both are exact integer counts over equal-length sigs)
      .withColumn("est_jaccard",
        graft.functions.SetOps.eqCount(col("s1.sig"), col("s2.sig"))
          .cast("double") / NumHashes)
      .select(col("doc_id_1"), col("doc_id_2"), col("n_shared_bands"), col("est_jaccard"))
  }

  val minhashLshSql: String = {
    s"""WITH codes AS (
       |  SELECT doc_id, ${charCodesSql("lower(text)")} AS codes FROM documents),
       |sh AS (
       |  SELECT doc_id, ${shingleHashesFromCodesSql("codes", ShingleK)} AS shash FROM codes),
       |sigs AS (
       |  SELECT doc_id, ${minhashSigSql("shash")} AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, ${bandSigsSql("sig")} AS bands FROM sigs),
       |bands AS (
       |  SELECT doc_id, CAST(b.band - 1 AS INT) AS band, bands[b.band] AS band_sig
       |  FROM banded, LATERAL (SELECT unnest(generate_series(1, ${NumBands})) AS band) b),
       |pairs AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_id_1, doc_id_2, n_shared_bands,
       |  CAST(len(list_filter(generate_series(1, ${NumHashes}), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / ${NumHashes} AS est_jaccard
       |FROM pairs
       |JOIN sigs s1 ON doc_id_1 = s1.doc_id
       |JOIN sigs s2 ON doc_id_2 = s2.doc_id
       |ORDER BY doc_id_1, doc_id_2""".stripMargin
  }

  /** Banded-LSH candidate generation over any (doc_id, sig) frame:
    * explode ${Hashes.NumBands} band signatures, shuffle on
    * (band, band_sig), count shared bands per surviving pair. Never
    * all-pairs — only same-bucket docs meet. */
  private def bandPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"),
      posexplode(bandSigs(col("sig"))).as(Seq("band", "band_sig")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Similarity thresholds [[thresholdSweep]] evaluates. */
  val JaccardSweep = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** DEDUP THRESHOLD SWEEP — duplicate volume vs similarity cutoff
    * (the band_sweep/probe_sweep pattern on the DECISION knob): for
    * every τ in [[JaccardSweep]], how many LSH candidate pairs clear
    * est_jaccard ≥ τ and what fraction of the corpus would be dropped
    * (distinct higher-id partners — the [[minhashClusters]] duplicate
    * rule). The pair relation is computed ONCE; the sweep is a
    * broadcast |τ|-row expansion + one aggregate — answering "how
    * aggressive can dedup be before it eats the corpus" before a
    * threshold ships. Empty thresholds still emit a zero row (the
    * curve's tail is the point). */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
      .select(col("doc_id_1"), col("doc_id_2"), col("est_jaccard"))
    val tdim = { import spark.implicits._; JaccardSweep.toDF("threshold") }
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val agg = pairs.crossJoin(broadcast(tdim))
      .filter(col("est_jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs_raw"),
        countDistinct(col("doc_id_2")).as("n_dup_docs_raw"))
    // agg is ≤ |τ| rows of sweep metadata — broadcast (unhinted this
    // planned an SMJ with sorts on two ≤5-row sides)
    tdim.join(broadcast(agg), Seq("threshold"), "left")
      .crossJoin(broadcast(nd))
      .select(col("threshold"),
        coalesce(col("n_pairs_raw"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs_raw"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs_raw"), lit(0L)).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("threshold"))
  }

  val thresholdSweepSql: String = {
    val tvals = JaccardSweep.map(t => s"($t)").mkString(", ")
    s"""WITH pairsrc AS ($minhashLshSql),
       |thr AS (SELECT CAST(th AS DOUBLE) AS threshold FROM (VALUES $tvals) t(th)),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |agg AS (
       |  SELECT thr.threshold, COUNT(*) AS n_pairs, COUNT(DISTINCT p.doc_id_2) AS n_dup_docs
       |  FROM pairsrc p JOIN thr ON p.est_jaccard >= thr.threshold
       |  GROUP BY 1)
       |SELECT thr.threshold,
       |  CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(agg.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       |  round(CAST(COALESCE(agg.n_dup_docs, 0) AS DOUBLE) / CAST(nd.n_docs AS DOUBLE), 6) AS dup_rate
       |FROM thr LEFT JOIN agg ON thr.threshold = agg.threshold CROSS JOIN nd
       |ORDER BY thr.threshold""".stripMargin
  }

  // ------------------------------------------------------------ #26b MinHash accuracy

  /** MinHash estimator quality: estimated vs TRUE char-shingle Jaccard
    * for every LSH candidate pair — the measurement that tunes
    * signature length / band layout before a dedup config ships (the
    * dedup-side analogue of [[Similarity.annRecall]]).
    *
    * Scale: the candidate side is the (post-LSH, tiny) pair set; true
    * Jaccard for those pairs comes from the same inverted shingle
    * index the jaccard operator uses (shuffle on shingle hash, never
    * all-pairs). */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    // True Jaccard is computed PER CANDIDATE PAIR from the two docs'
    // distinct shingle-hash arrays (array_intersect) — linear in the
    // pair count. An inverted-index self-join on the char shingles is
    // the WRONG shape here: char 5-grams on a low-entropy corpus are
    // hot (the §5 f² lesson — word-grams exist in ngramJaccard
    // precisely for rarity), and the postings join measured 75 s at
    // sf0.1 vs ~1 s for this formulation.
    //
    // ONE doc-grain exchange produces BOTH per-doc artifacts — the 16
    // min-aggregate signature and the collect_set distinct shingle
    // set — so the composed query runs one scan, one checkpoint and
    // two pair-side joins instead of minhashLsh's frame plus a
    // second scan + set pass + two more joins (measured 5.0 s →
    // ~2 s at sf0.1; stage count, not compute, dominates here).
    val combined = explodedShingleHashes(spark, dir)
      .groupBy(col("doc_id"))
      .agg(min((col("h") * minhashA(0) + minhashB(0)) % M).as("m0"),
        ((1 until NumHashes).map(j =>
          min((col("h") * minhashA(j) + minhashB(j)) % M).as(s"m$j")) :+
          // sorted once per DOC so the per-PAIR true-Jaccard scoring
          // below is a native merge walk, not a hash set per call
          sort_array(collect_set(col("h"))).as("shs")): _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(j => col(s"m$j")): _*).as("sig"), col("shs"))
      .localCheckpoint()
    // native per-pair scoring (SetOps): the interpreted
    // zip_with/array_intersect equivalents were the entire query cost
    // at sf0.1 (~7 s of a ~75k-pair noop write → sub-second)
    bandPairs(combined)
      .join(combined.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(combined.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      .withColumn("est_jaccard",
        graft.functions.SetOps.eqCount(col("s1.sig"), col("s2.sig"))
          .cast("double") / NumHashes)
      .withColumn("inter",
        graft.functions.SetOps.sortedIntersectCount(col("s1.shs"), col("s2.shs")))
      .withColumn("true_jaccard", round(col("inter").cast("double") /
        (size(col("s1.shs")) + size(col("s2.shs")) - col("inter")).cast("double"), 6))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("true_jaccard")), 6))
      .select(col("doc_id_1"), col("doc_id_2"), col("est_jaccard"),
        col("true_jaccard"), col("abs_err"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  val minhashAccuracySql: String =
    s"""WITH mh AS ($minhashLshSql),
       |codes AS (
       |  SELECT doc_id, ${charCodesSql("lower(text)")} AS codes FROM documents),
       |sh AS (
       |  SELECT doc_id, ${shingleHashesFromCodesSql("codes", ShingleK)} AS shash FROM codes),
       |sets AS (SELECT doc_id, list_distinct(shash) AS shs FROM sh),
       |joined AS (
       |  SELECT mh.doc_id_1, mh.doc_id_2, mh.est_jaccard,
       |    CAST(len(list_intersect(s1.shs, s2.shs)) AS BIGINT) AS inter,
       |    len(s1.shs) AS sz1, len(s2.shs) AS sz2
       |  FROM mh
       |  JOIN sets s1 ON mh.doc_id_1 = s1.doc_id
       |  JOIN sets s2 ON mh.doc_id_2 = s2.doc_id)
       |SELECT doc_id_1, doc_id_2, est_jaccard,
       |  round(CAST(inter AS DOUBLE) / CAST(sz1 + sz2 - inter AS DOUBLE), 6) AS true_jaccard,
       |  round(abs(est_jaccard - round(CAST(inter AS DOUBLE) / CAST(sz1 + sz2 - inter AS DOUBLE), 6)), 6) AS abs_err
       |FROM joined
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  // ------------------------------------------------------------ #26f band-config sweep

  /** LSH band-configuration SWEEP — the parameter-tuning loop for the
    * minhash index (the [[graft.pipeline.Similarity]] `ann_recall`
    * pattern applied to dedup): for every nested band layout of the
    * 16-permutation signature (1×16 … 16×1), candidate recall and
    * precision against TRUE-Jaccard-≥[[JaccardThreshold]] pairs. More
    * bands ⇒ wider candidates ⇒ recall↑ precision↓; this emits the
    * actual numbers that pick a config before a 100 TB run.
    *
    * Evaluation frame: the 16×1 config's candidates — any single
    * agreeing permutation. Nested band widths make every narrower
    * config's candidate set a SUBSET of it (an r-row band agreeing
    * implies each of its rows agrees), so all five configs (and the
    * truth) are decided per pair from the two signatures already on
    * the pair row — pure codegen'd position compares, no re-join per
    * config. A pair with true J ≥ τ and zero agreeing permutations is
    * invisible to EVERY config, so excluding it from the frame only
    * removes a constant from all recalls (at J ≥ 0.5 the miss odds
    * per pair are (1−J)¹⁶ < 2⁻¹⁶ — the standard LSH-eval frame).
    *
    * Scale: one doc-grain exchange builds sig+shingle-set (the
    * [[minhashAccuracy]] combined shape); the wide pair join meets
    * only inside (permutation, value) buckets, df-capped at
    * [[MaxShingleDf]] like every postings join here (#25's f² rule —
    * the cap is part of the operator contract, same cap in the
    * oracle); the sweep itself is ONE aggregate over the pair frame
    * producing a 1-row summary exploded to 5 config rows. */
  def minhashBandSweep(spark: SparkSession, dir: String): DataFrame = {
    val combined = explodedShingleHashes(spark, dir)
      .groupBy(col("doc_id"))
      .agg(min((col("h") * minhashA(0) + minhashB(0)) % M).as("m0"),
        ((1 until NumHashes).map(j =>
          min((col("h") * minhashA(j) + minhashB(j)) % M).as(s"m$j")) :+
          sort_array(collect_set(col("h"))).as("shs")): _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(j => col(s"m$j")): _*).as("sig"), col("shs"))
      .localCheckpoint()
    val pos = combined.select(col("doc_id"),
      posexplode(col("sig")).as(Seq("j", "mv")))
    val hot = pos.groupBy(col("j"), col("mv")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select(col("j"), col("mv"))
    val capped = pos.join(hot, Seq("j", "mv"), "left_anti")
    val wide = capped.as("a").join(capped.as("b"),
        col("a.j") === col("b.j") && col("a.mv") === col("b.mv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    def agrees(nBands: Int): Column = {
      val r = NumHashes / nBands
      (0 until nBands).map { b =>
        (0 until r).map(k =>
          element_at(col("s1.sig"), b * r + k + 1) ===
            element_at(col("s2.sig"), b * r + k + 1)).reduce(_ && _)
      }.reduce(_ || _)
    }
    val configs = Seq(1, 2, 4, 8, 16)
    val scored = wide
      .join(combined.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(combined.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      .withColumn("inter",
        graft.functions.SetOps.sortedIntersectCount(col("s1.shs"), col("s2.shs")))
      .withColumn("truth", round(col("inter").cast("double") /
        (size(col("s1.shs")) + size(col("s2.shs")) - col("inter")).cast("double"), 6)
        >= JaccardThreshold)
    val aggExprs = sum(when(col("truth"), 1L).otherwise(0L)).as("n_true") +:
      configs.flatMap(nb => Seq(
        sum(when(agrees(nb), 1L).otherwise(0L)).as(s"cand_$nb"),
        sum(when(agrees(nb) && col("truth"), 1L).otherwise(0L)).as(s"hit_$nb")))
    // ONE row, localCheckpointed: each of the 5 config selects below
    // re-references it, and without the pin every branch would re-run
    // the whole pair pipeline (measured: 40 exchanges → 8)
    val summary = scored.agg(aggExprs.head, aggExprs.tail: _*).localCheckpoint()
    configs.map { nb =>
      summary.select(lit(nb).as("n_bands"),
        lit(NumHashes / nb).as("rows_per_band"),
        col(s"cand_$nb").as("n_candidates"),
        col("n_true").as("n_true_pairs"),
        col(s"hit_$nb").as("n_hits"),
        round(col(s"hit_$nb").cast("double") /
          greatest(col("n_true"), lit(1L)).cast("double"), 6).as("recall"),
        round(col(s"hit_$nb").cast("double") /
          greatest(col(s"cand_$nb"), lit(1L)).cast("double"), 6).as("precision"))
    }.reduce(_ unionByName _).orderBy(col("n_bands"))
  }

  lazy val minhashBandSweepSql: String = {
    def agreesSql(nBands: Int): String = {
      val r = NumHashes / nBands
      (0 until nBands).map { b =>
        (0 until r).map(k =>
          s"sig1[${b * r + k + 1}] = sig2[${b * r + k + 1}]").mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
    }
    val configs = Seq(1, 2, 4, 8, 16)
    val aggCols = configs.flatMap(nb => Seq(
      s"CAST(SUM(CASE WHEN ${agreesSql(nb)} THEN 1 ELSE 0 END) AS BIGINT) AS cand_$nb",
      s"CAST(SUM(CASE WHEN ${agreesSql(nb)} AND truth THEN 1 ELSE 0 END) AS BIGINT) AS hit_$nb"))
    val unions = configs.map { nb =>
      s"""SELECT $nb AS n_bands, ${NumHashes / nb} AS rows_per_band,
         |  cand_$nb AS n_candidates, n_true AS n_true_pairs, hit_$nb AS n_hits,
         |  round(CAST(hit_$nb AS DOUBLE) / CAST(greatest(n_true, 1) AS DOUBLE), 6) AS recall,
         |  round(CAST(hit_$nb AS DOUBLE) / CAST(greatest(cand_$nb, 1) AS DOUBLE), 6) AS precision
         |FROM summary""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH codes AS (
       |  SELECT doc_id, ${charCodesSql("lower(text)")} AS codes FROM documents),
       |sh AS (
       |  SELECT doc_id, ${shingleHashesFromCodesSql("codes", ShingleK)} AS shash FROM codes),
       |sigsets AS (
       |  SELECT doc_id, ${minhashSigSql("shash")} AS sig,
       |    list_sort(list_distinct(shash)) AS shs
       |  FROM sh),
       |pos AS (
       |  SELECT doc_id, CAST(j.j AS INT) AS j, sig[j.j] AS mv
       |  FROM sigsets, LATERAL (SELECT unnest(generate_series(1, $NumHashes)) AS j) j),
       |hot AS (SELECT j, mv FROM pos GROUP BY j, mv HAVING COUNT(*) > $MaxShingleDf),
       |capped AS (
       |  SELECT p.doc_id, p.j, p.mv FROM pos p
       |  LEFT JOIN hot h ON p.j = h.j AND p.mv = h.mv WHERE h.j IS NULL),
       |wide AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
       |  FROM capped a JOIN capped b
       |    ON a.j = b.j AND a.mv = b.mv AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT
       |    round(CAST(len(list_intersect(s1.shs, s2.shs)) AS DOUBLE) /
       |      CAST(len(s1.shs) + len(s2.shs) - len(list_intersect(s1.shs, s2.shs)) AS DOUBLE), 6)
       |      >= $JaccardThreshold AS truth,
       |    s1.sig AS sig1, s2.sig AS sig2
       |  FROM wide w
       |  JOIN sigsets s1 ON w.doc_id_1 = s1.doc_id
       |  JOIN sigsets s2 ON w.doc_id_2 = s2.doc_id),
       |summary AS (
       |  SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |    ${aggCols.mkString(",\n    ")}
       |  FROM scored)
       |$unions
       |ORDER BY n_bands""".stripMargin
  }

  // ------------------------------------------------------------ #26c MinHash clusters

  /** Minimum estimated Jaccard for an LSH candidate pair to count as a
    * clustering edge — ≥ 12/16 agreeing minhashes: tight enough that a
    * component is a genuine near-dup group, not a chain of weak hits. */
  val LshClusterThreshold = 0.7

  /** Duplicate clustering over the MINHASH-LSH candidate graph — the
    * 100 TB counterpart of [[clusters]]: same min-label connected
    * components, but the edge set comes from banded LSH + signature
    * agreement ([[minhashLsh]] pairs at est_jaccard ≥
    * $LshClusterThreshold) instead of the exact inverted-index Jaccard.
    * At corpus scale the exact pair generator is the audit path
    * (df-capped, but still shingle-join-shaped); THIS is the layout a
    * production dedup runs: signatures are one map-side pass + one
    * doc-grain shuffle, candidates only meet inside LSH buckets, and
    * the fixpoint then runs over the (tiny) candidate graph.
    *
    * Same output contract as [[clusters]] (cluster_id = component min,
    * canonical = the minimum doc) so downstream keep/drop logic is
    * interchangeable between the exact and sketch paths. */
  def minhashClusters(spark: SparkSession, dir: String): DataFrame =
    componentsFromPairs(
      minhashPairs(spark, dir)
        .filter(col("est_jaccard") >= LshClusterThreshold)
        .select(col("doc_id_1"), col("doc_id_2")))
      .orderBy(col("doc_id"))

  lazy val minhashClustersSql: String =
    s"""WITH RECURSIVE mh AS ($minhashLshSql),
       |edges0 AS (
       |  SELECT doc_id_1 AS d1, doc_id_2 AS d2 FROM mh
       |  WHERE est_jaccard >= $LshClusterThreshold),
       |edges AS (SELECT d1 AS a, d2 AS b FROM edges0 UNION ALL SELECT d2, d1 FROM edges0),
       |verts AS (SELECT DISTINCT a AS doc FROM edges),
       |reach AS (
       |  SELECT doc, doc AS r FROM verts
       |  UNION
       |  SELECT e.b AS doc, reach.r FROM reach JOIN edges e ON e.a = reach.doc)
       |SELECT doc AS doc_id, MIN(r) AS cluster_id, (doc = MIN(r)) AS is_canonical
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #26d incremental admission

  /** Deterministic batch split: docs with doc_id % $IncrementalMod == 0
    * play the INCOMING crawl, the rest the standing corpus (same
    * stand-in convention as [[BenchmarkMod]]). */
  val IncrementalMod = 5

  /** Incremental admission — the flow a production pipeline actually
    * runs per crawl: a NEW batch of documents is admitted against the
    * standing corpus without re-deduplicating the corpus itself.
    * Per incoming doc, the verdict and its provenance:
    * `exact_corpus` (byte-identical to a corpus doc) > `exact_batch`
    * (an earlier doc in the SAME batch carries the digest) >
    * `near_corpus` (LSH est_jaccard ≥ $LshClusterThreshold against a
    * corpus doc) > `near_batch` (against an earlier batch doc, greedy
    * C4-style — the earlier doc's own fate doesn't resurrect it) >
    * `kept`.
    *
    * Scale: at 100 TB the corpus side of both probes is a STANDING
    * INDEX (digest set, band index) that incremental runs reuse; here
    * both sides derive from the same table so the oracle can check the
    * admission logic exactly. The digest probes are semi-join-shaped
    * (no row explosion), the near probe classifies the tiny post-LSH
    * pair set, and everything joins back at incoming-doc grain. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val m = IncrementalMod
    val d = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("digest"))
    val inc = d.filter(col("doc_id") % m === 0)
    val ex = d.filter(col("doc_id") % m =!= 0)
    val exDig = ex.select(col("digest")).distinct().withColumn("m_exact_corpus", lit(true))
    val firsts = inc.groupBy(col("digest")).agg(min(col("doc_id")).as("first_id"))
    // feeds both near-partner projections — checkpoint the (tiny)
    // thresholded pair set so the band join runs once
    val pairs = minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= LshClusterThreshold)
      .select(col("doc_id_1"), col("doc_id_2"))
      .localCheckpoint()
    // pairs are ordered doc_id_1 < doc_id_2, so a batch partner seen
    // from side 2 is always EARLIER; from side 1 only corpus partners count
    val near = pairs.filter(col("doc_id_2") % m === 0)
      .select(col("doc_id_2").as("i"),
        (col("doc_id_1") % m =!= 0).as("corpus"), (col("doc_id_1") % m === 0).as("batch"))
      .unionByName(pairs.filter(col("doc_id_1") % m === 0)
        .select(col("doc_id_1").as("i"),
          (col("doc_id_2") % m =!= 0).as("corpus"), lit(false).as("batch")))
      .groupBy(col("i"))
      .agg(max(col("corpus")).as("near_corpus"), max(col("batch")).as("near_batch"))
    inc.join(exDig, Seq("digest"), "left")
      .join(firsts, Seq("digest"))
      .join(near, col("doc_id") === col("i"), "left")
      .withColumn("reason",
        when(coalesce(col("m_exact_corpus"), lit(false)), "exact_corpus")
          .when(col("doc_id") > col("first_id"), "exact_batch")
          .when(coalesce(col("near_corpus"), lit(false)), "near_corpus")
          .when(coalesce(col("near_batch"), lit(false)), "near_batch")
          .otherwise("kept"))
      .select(col("doc_id"), col("reason"), (col("reason") === "kept").as("keep"))
      .orderBy(col("doc_id"))
  }

  lazy val incrementalSql: String =
    s"""WITH mh AS ($minhashLshSql),
       |d AS (SELECT doc_id, md5(text) AS digest FROM documents),
       |inc AS (SELECT * FROM d WHERE doc_id % $IncrementalMod = 0),
       |ex AS (SELECT * FROM d WHERE doc_id % $IncrementalMod <> 0),
       |firsts AS (SELECT digest, MIN(doc_id) AS first_id FROM inc GROUP BY 1),
       |near AS (
       |  SELECT i, bool_or(corpus) AS near_corpus, bool_or(batch) AS near_batch FROM (
       |    SELECT doc_id_2 AS i, (doc_id_1 % $IncrementalMod <> 0) AS corpus,
       |      (doc_id_1 % $IncrementalMod = 0) AS batch
       |    FROM mh WHERE est_jaccard >= $LshClusterThreshold AND doc_id_2 % $IncrementalMod = 0
       |    UNION ALL
       |    SELECT doc_id_1 AS i, (doc_id_2 % $IncrementalMod <> 0) AS corpus, FALSE AS batch
       |    FROM mh WHERE est_jaccard >= $LshClusterThreshold AND doc_id_1 % $IncrementalMod = 0)
       |  GROUP BY 1),
       |flags AS (
       |  SELECT i.doc_id,
       |    EXISTS(SELECT 1 FROM ex e WHERE e.digest = i.digest) AS exact_corpus,
       |    i.doc_id > f.first_id AS exact_batch,
       |    COALESCE(n.near_corpus, FALSE) AS nc,
       |    COALESCE(n.near_batch, FALSE) AS nb
       |  FROM inc i JOIN firsts f ON i.digest = f.digest
       |  LEFT JOIN near n ON n.i = i.doc_id)
       |SELECT doc_id,
       |  CASE WHEN exact_corpus THEN 'exact_corpus'
       |       WHEN exact_batch THEN 'exact_batch'
       |       WHEN nc THEN 'near_corpus'
       |       WHEN nb THEN 'near_batch'
       |       ELSE 'kept' END AS reason,
       |  (NOT exact_corpus AND NOT exact_batch AND NOT nc AND NOT nb) AS keep
       |FROM flags ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ #27 SimHash

  /** SimHash block partition: 3 blocks of 11/11/10 bits — pigeonhole
    * guarantees any pair at hamming ≤ 2 shares a block, and the wider
    * blocks cut bucket collisions ~8× vs 8-bit blocks (fewer f²
    * candidate pairs in the hot buckets). */
  val SimhashBlocks: Seq[(Int, Long)] = Seq((0, 0x7ffL), (11, 0x7ffL), (22, 0x3ffL))

  /** SimHash near-dup: 32-bit per-doc signature (map-only), candidates
    * share at least one of three bit-blocks (covering hamming ≤
    * $HammingThreshold exactly). Shuffle is on (block_idx, block) only. */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame = {
    // Same explode + groupBy layout as minhashLsh: 32 codegen'd
    // conditional sums replace 32 interpreted array folds.
    val sims = explodedShingleHashes(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sum(shiftright(col("h"), 0).bitwiseAND(lit(1L)) * 2L - 1L).as("b0"),
        (1 until 32).map(i =>
          sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2L - 1L).as(s"b$i")): _*)
      .select(col("doc_id"),
        (0 until 32).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val blocks = sims.select(col("doc_id"), col("simhash"),
      posexplode(array(SimhashBlocks.map { case (off, mask) =>
        shiftright(col("simhash"), off).bitwiseAND(lit(mask))
      }: _*)).as(Seq("block_idx", "block")))
      // pin the self-join's input width (r13 optimization round,
      // measured): the block relation is only ~16 B/row, so AQE's
      // byte-targeted coalescing (minPartitionSize) collapses it to
      // ~1 post-shuffle partition — and this join's OUTPUT is the f²
      // pair explosion, so the whole candidate pass then runs on one
      // core (115 s of task time on 38 tasks). An explicit
      // repartition with a user-specified partition count is exempt
      // from AQE coalescing and spreads the explosion over the
      // cluster; defaultParallelism keeps it scale-adaptive.
      .repartition(sims.sparkSession.sparkContext.defaultParallelism,
        col("block_idx"), col("block"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
      .filter(col("hamming") <= HammingThreshold) // filter BEFORE the distinct exchange
      .distinct()
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  val simhashDedupSql: String = {
    s"""WITH codes AS (
       |  SELECT doc_id, ${charCodesSql("lower(text)")} AS codes FROM documents),
       |sh AS (
       |  SELECT doc_id, ${shingleHashesFromCodesSql("codes", ShingleK)} AS shash FROM codes),
       |sims AS (
       |  SELECT doc_id, ${simhash32Sql("shash")} AS simhash FROM sh),
       |blocks AS (
       |  ${SimhashBlocks.zipWithIndex.map { case ((off, mask), i) =>
            s"SELECT doc_id, simhash, $i AS block_idx, (simhash >> $off) & $mask AS block FROM sims"
          }.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.block_idx = b.block_idx AND a.block = b.block AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingThreshold)
       |SELECT doc_id_1, doc_id_2, hamming FROM cand
       |ORDER BY doc_id_1, doc_id_2""".stripMargin
  }

  // ------------------------------------------------------------ #28 embedding cosine

  /** Ceiling on the [[embedCosine]] pruning-cell count: K grows with
    * the corpus as ≈√n (per-cell population ≈ √n stays bounded) up to
    * this cap, past which the K²-row cell-pair relation and the n·K
    * assignment dots start to dominate. The pruning GUARANTEE below is
    * independent of K and of centroid placement; both only tune how
    * much work the bound can discard. */
  val PruneCellsMax = 4096

  /** Oversampling factor for the centroid pick: the deterministic
    * hash-sample targets ~this many rows per centroid, so the strided
    * pick has enough spread to land one centroid per √n-slice of the
    * first-dimension order even under hash-selection jitter. */
  private val CentroidSampleOver = 64L

  /** Embedding near-dup: pairs with cosine ≥ $CosineThreshold — EXACT
    * (identical to brute-force all-pairs, which is what the oracle SQL
    * still states), but laid out so no full-table broadcast or
    * nested-loop join ever appears in the plan.
    *
    * Layout: assign every vector to its nearest of K ≈ min(√n,
    * [[PruneCellsMax]]) deterministic centroids (angular distance —
    * see [[embedCosineCells]] for the adaptive K / spread-centroid
    * policy), record each cell's
    * max angle R_c, and generate candidates only through centroid
    * pairs with θ(c1,c2) ≤ θτ + R_c1 + R_c2. Angular distance is a
    * metric (geodesic on the sphere), so by the triangle inequality a
    * pair (a,b) with θ(a,b) ≤ θτ can never span a discarded cell pair
    * — pruning is provably lossless, for ANY data. Survivor pairs are
    * exact-refined with the native codegen'd [[graft.functions.VecDot]]
    * fold (ascending-index, the oracle's list_reduce order,
    * bit-identical values), so the result equals all-pairs at τ no
    * matter how well the bound pruned.
    *
    * Scale: centroids (K rows) and the ≤K² surviving cell-pair
    * relation broadcast; the vector table is shuffled ONCE on its cell
    * key and joined by cell-pair equi-keys — an AQE-skew-splittable
    * hash join, never a broadcast of the corpus. Worst case (data
    * where nothing prunes, e.g. isotropic random vectors at a low τ)
    * the COMPUTE is still O(n²) — inherent to an exact all-pairs
    * contract — but memory stays bounded: scoring streams through the
    * join, nothing corpus-sized is ever resident. On clustered real
    * embeddings the bound discards most cell pairs and the work drops
    * toward O(n²/K). The sub-quadratic APPROXIMATE paths remain
    * [[Similarity.annLshBucketed]] / [[Similarity.annIvf]]. */
  def embedCosine(spark: SparkSession, dir: String): DataFrame =
    embedCosineOn(Tables.spread(Tables.embeddings(spark, dir)))

  /** [[embedCosine]] over any `(vec_id, embedding)`-shaped frame —
    * factored out so specs can drive synthetic clustered corpora, and
    * so [[embedCosineCells]]' candidate volume is observable. */
  def embedCosineOn(emb: DataFrame): DataFrame = {
    val (assigned, cellPairs) = embedCosineCells(emb)
    // every ordered (cell(a), cell(b)) appears at most once in
    // cellPairs, so a qualifying pair meets exactly once
    candidatePairs(assigned, cellPairs)
      .select(col("vec_id_1"), col("vec_id_2"),
        round(col("raw_cos"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= CosineThreshold)
      .orderBy(col("vec_id_1"), col("vec_id_2"))
  }

  /** Candidate pairs surviving the cell-level triangle bound, with the
    * exact cosine attached — the pre-threshold frame [[embedCosineOn]]
    * refines. Package-visible so the pruning-effectiveness spec can
    * count candidates. */
  private[pipeline] def candidatePairs(assigned: DataFrame, cellPairs: DataFrame): DataFrame =
    assigned.as("a")
      .join(broadcast(cellPairs), col("a.cell") === col("cell_1"))
      .join(assigned.as("b"),
        col("cell_2") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"),
        (graft.functions.VecDot.dot(col("a.v"), col("b.v")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("raw_cos"))

  /** Cell assignment + surviving cell-pair relation for the triangle
    * pruning. Adaptive policy (the 100 TB posture):
    *
    *  - **K scales with n**: K = min(⌈√n⌉, [[PruneCellsMax]]), so the
    *    expected per-cell population is ≈√n — no cell's candidate
    *    block grows linearly with the corpus. n is a real count job
    *    over the input frame (the frame is arbitrary — derived plans
    *    and in-memory sources included — so no parquet metadata
    *    shortcut applies); when the input IS a bare parquet scan,
    *    Spark collapses the count to footer row counts on its own.
    *  - **Centroids are deterministically SPREAD, not the first K
    *    rows**: a fixed hash-sample (xxhash64 of vec_id — stable
    *    across runs and appends) of ~[[CentroidSampleOver]]·K rows is
    *    globally ranked by (first dimension, vec_id) via
    *    [[graft.functions.DistributedRanks]] (range-partitioned —
    *    no single-task window), and every ⌊sample/K⌋-th row is
    *    picked. Strided picks over the value order put centroids in
    *    every occupied region of the sphere's first-dim profile, so
    *    clustered corpora get per-cluster cells instead of one
    *    catch-all cell near the origin of vec_id space.
    *  - **Assignment aggregates, never windows**: nearest-centroid is
    *    a groupBy(vec_id).max(struct(cos, cid)) over the K-expanded
    *    broadcast join — partial aggregation collapses the n·K rows
    *    map-side, so the exchange carries n rows, not n·K (the
    *    window variant this replaces shuffled the full expansion).
    *
    * The triangle-inequality bound (see [[embedCosine]]'s contract
    * note) is lossless for ANY K/centroid placement, so this policy
    * affects only pruning effectiveness, never the result. */
  private[pipeline] def embedCosineCells(emb: DataFrame): (DataFrame, DataFrame) = {
    val e = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", graft.functions.VecDot.dot(col("v"), col("v")))
    val n = emb.count()
    val k = math.max(1L, math.min(math.ceil(math.sqrt(n.toDouble)).toLong, PruneCellsMax.toLong))
    val sampleMod = math.max(1L, n / (CentroidSampleOver * k))
    val sample = e.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      .withColumn("g", lit(0))
    val ranked = graft.functions.DistributedRanks.withGroupRanks(
      sample, "g", Seq(element_at(col("v"), 1), col("vec_id")))
    // stride = ⌊sample/K⌋ picks ≥ K rows; cid < K caps it at exactly K
    val stride = greatest(floor(col("n") / lit(k)), lit(1L))
    val cent = ranked
      .withColumn("cid", floor((col("rn") - 1) / stride))
      .filter((col("rn") - 1) % stride === 0 && col("cid") < k)
      .select(col("cid"), col("v").as("cv"), col("n2").as("cn2"))
    def angle(cos: Column): Column = acos(least(greatest(cos, lit(-1.0)), lit(1.0)))
    // nearest centroid per vector as ONE codegen'd scalar against the
    // K-row centroid matrix (driver-collected metadata, the codegen
    // analogue of a broadcast): the assignment stage is map-only —
    // no K-way row expansion, no exchange. The previous shape
    // (broadcast join + partial-max aggregate) materialized K array
    // pairs per row just to collapse them again.
    val centLocal: Array[Array[Double]] = cent.select(col("cid"), col("cv")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val assigned = e
      .withColumn("best", graft.functions.VecNearestCell.nearest(col("v"), centLocal))
      .select(col("vec_id"), col("v"), col("n2"),
        col("best.cell").cast("long").as("cell"), angle(col("best.cos")).as("theta"))
      // feeds the radii agg and both pair sides — one execution
      .localCheckpoint()
    val radii = assigned.groupBy(col("cell")).agg(max(col("theta")).as("radius"))
    // ordered centroid pairs surviving the triangle bound (≤K² rows of
    // metadata; the 1e-9 slack keeps double rounding from ever flipping
    // a boundary decision toward a false prune)
    val thetaTau = math.acos(CosineThreshold)
    val cellPairs = cent.as("c1").join(broadcast(cent.select(
        col("cid").as("cid2"), col("cv").as("cv2"), col("cn2").as("cn22"))), lit(true))
      .select(col("cid").as("cell_1"), col("cid2").as("cell_2"),
        angle(graft.functions.VecDot.dot(col("cv"), col("cv2")) /
          (sqrt(col("cn2")) * sqrt(col("cn22")))).as("cdist"))
      .join(radii.select(col("cell").as("cell_1"), col("radius").as("r1")), Seq("cell_1"))
      .join(radii.select(col("cell").as("cell_2"), col("radius").as("r2")), Seq("cell_2"))
      .filter(col("cdist") <= lit(thetaTau) + col("r1") + col("r2") + lit(1e-9))
      .select(col("cell_1"), col("cell_2"))
    (assigned, cellPairs)
  }

  /** Semantic duplicate GROUPS with canonical election — SemDeDup
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): partition the
    * embedding space into cells, connect same-cell pairs at cosine ≥
    * [[CosineThreshold]] into groups, and KEEP one representative per
    * group — the member with the LOWEST cosine to its cell centroid
    * (the paper's election: the far-from-centroid example preserves
    * diversity; near-centroid copies are the redundant mass).
    *
    * Where [[embedCosine]] is the EXACT all-pairs contract (its
    * triangle bound is lossless, so cells never change its output),
    * this operator is the scaled SemDeDup approximation: pairs meet
    * ONLY inside their cell, by design — cross-cell near-duplicates
    * are accepted misses, which is what makes the shape linear in
    * occupied-cell volume. Cells here are the [[Similarity]]
    * random-hyperplane buckets (2^[[Similarity.NumPlanes]]): a pure
    * map-side projection both engines compute bit-identically, playing
    * the role of the paper's k-means partition; at 100 TB, more planes
    * (or the trained [[Similarity.annIvf]] cells) — same plan shape.
    *
    * Scale: bucketing is map-only; the cell centroid is one
    * (cell, dim)-keyed DECIMAL-exact mean; candidate pairs shuffle on
    * the cell key (never all-pairs); groups reuse the
    * [[componentsFromPairs]] fixpoint over the rare edge relation;
    * the election is a group-keyed min(struct) aggregate. Output has
    * one row per GROUPED vector (singletons are implicitly kept, the
    * [[clusters]] convention). */
  def embedCellGroups(spark: SparkSession, dir: String): DataFrame =
    embedCellGroupsOn(Tables.spread(Tables.embeddings(spark, dir)))

  private[pipeline] def embedCellGroupsOn(emb: DataFrame): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VecDot.dot(a, b)
    val b = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("cell", Similarity.bucketCol(col("v")))
      .localCheckpoint() // feeds centroid mean, pair join (both sides), and the rescore
    // DECIMAL-exact per-cell mean centroid (the cbdims recipe from
    // the PQ codebook M-step — order-independent, hash-comparable)
    val cent = b
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(27,12)")).cast("double") / count(lit(1)), 6)
        .as("cm"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cm")))),
        s => s.getField("cm")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    val pairs = b.as("a")
      .join(b.as("bb"),
        col("a.cell") === col("bb.cell") && col("a.vec_id") < col("bb.vec_id"))
      .filter(round(dot(col("a.v"), col("bb.v")) /
        (sqrt(col("a.n2")) * sqrt(col("bb.n2"))), 6) >= CosineThreshold)
      .select(col("a.vec_id").as("doc_id_1"), col("bb.vec_id").as("doc_id_2"))
    // edges connect same-cell vectors only, so every group lives in
    // exactly one cell — the centroid join below is well-defined
    val scored = componentsFromPairs(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
      .join(b.select(col("vec_id"), col("cell"), col("v"), col("n2")), Seq("vec_id"))
      .join(broadcast(cent), Seq("cell"))
      .withColumn("centroid_cos",
        round(dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))), 6))
    val keepers = scored.groupBy(col("group_id"))
      .agg(min(struct(col("centroid_cos"), col("vec_id"))).as("k"))
    scored.join(keepers, Seq("group_id"))
      .select(col("vec_id"), col("cell"), col("group_id"), col("centroid_cos"),
        (col("vec_id") === col("k.vec_id")).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  val embedCellGroupsSql: String = {
    val dotSql = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])), (acc, x) -> acc + x)""".stripMargin
    s"""WITH RECURSIVE
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS n2 FROM e),
       |b AS (
       |  SELECT vec_id, v, n2, ${Similarity.bucketSql("v")} AS cell FROM n),
       |centd AS (
       |  SELECT cell, i.i AS pos,
       |    round(CAST(SUM(CAST(v[i.i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS cm
       |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, cv, ${dotSql("cv", "cv")} AS cn2 FROM (
       |    SELECT cell, list(cm ORDER BY pos) AS cv FROM centd GROUP BY cell)),
       |edges0 AS (
       |  SELECT a.vec_id AS d1, b2.vec_id AS d2
       |  FROM b a JOIN b b2 ON a.cell = b2.cell AND a.vec_id < b2.vec_id
       |  WHERE round(${dotSql("a.v", "b2.v")} / (sqrt(a.n2) * sqrt(b2.n2)), 6) >= $CosineThreshold),
       |edges AS (SELECT d1 AS a, d2 AS b FROM edges0 UNION ALL SELECT d2, d1 FROM edges0),
       |verts AS (SELECT DISTINCT a AS doc FROM edges),
       |reach AS (
       |  SELECT doc, doc AS r FROM verts
       |  UNION
       |  SELECT e2.b AS doc, reach.r FROM reach JOIN edges e2 ON e2.a = reach.doc),
       |comp AS (
       |  SELECT doc AS vec_id, MIN(r) AS group_id FROM reach GROUP BY doc),
       |scored AS (
       |  SELECT c.vec_id, b.cell, c.group_id,
       |    round(${dotSql("b.v", "t.cv")} / (sqrt(b.n2) * sqrt(t.cn2)), 6) AS centroid_cos
       |  FROM comp c JOIN b ON c.vec_id = b.vec_id JOIN cent t ON b.cell = t.cell)
       |SELECT vec_id, cell, group_id, centroid_cos,
       |  (ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY centroid_cos, vec_id) = 1) AS is_kept
       |FROM scored ORDER BY vec_id""".stripMargin
  }

  val embedCosineSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (acc, x) -> acc + x) AS n2
       |  FROM e)
       |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
       |    / (sqrt(a.n2) * sqrt(b.n2)), 6) AS cos_sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
       |    / (sqrt(a.n2) * sqrt(b.n2)), 6) >= $CosineThreshold
       |ORDER BY vec_id_1, vec_id_2""".stripMargin

  // ------------------------------------------------------------ #25d span coverage

  val SpanTokens = 16 // tokens per span (Lee et al. 2021 use 50; scaled to the corpus)
  val SpanStride = 8  // sliding-window stride

  /** Cross-doc duplicated-span coverage — the exact-substring dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better") at span granularity: for each doc, the
    * fraction of its sliding [[SpanTokens]]-token windows whose exact
    * content also occurs in ANOTHER doc. Docs with high coverage are
    * partial copies that whole-doc dedup (exact / MinHash at the doc
    * grain) misses — the standard next filter after [[keeplist]].
    *
    * Scale: span fan-out is map-only (sequence+explode+slice+md5); a
    * digest is cross-doc-duplicated iff min(doc_id) ≠ max(doc_id) over
    * its occurrences — one digest-keyed shuffle with map-side combine
    * and NO count-distinct. The surviving dup-digest relation is
    * rare-by-construction (duplicated spans only), so AQE broadcasts
    * it for the probe join and the corpus-sized span frame never
    * re-shuffles. The span frame feeds both the dup aggregation and
    * the probe, so it is localCheckpointed (interpreted split/slice
    * would otherwise run twice — the kmeans/IVF lesson). */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageOn(docs(spark, dir))

  /** [[spanCoverage]] over any `(doc_id, text)` frame — factored so
    * [[spanRewrite]]'s spec can re-score the CLEANED corpus. */
  private[pipeline] def spanCoverageOn(d: DataFrame): DataFrame = {
    val spans = d
      .select(col("doc_id"),
        graft.functions.Tokens.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"), col("toks"),
        explode_outer(sequence(lit(1), size(col("toks")) - (SpanTokens - 1), lit(SpanStride)))
          .as("start_tok"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), col("start_tok"), lit(SpanTokens)))).as("digest"))
      .localCheckpoint()
    val dupDigests = spans
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("min_doc") =!= col("max_doc"))
      .select(col("digest"), lit(true).as("is_dup"))
    val perDoc = spans
      .join(dupDigests, Seq("digest"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("dup_span_frac"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated-span REMOVAL — the remediation half of
    * [[spanCoverage]]'s signal (Lee et al. 2021 §3, ExactSubstr:
    * coverage SCORES partial copies; removal CLEANS them): emit each
    * doc's text with every cross-doc-duplicated [[SpanTokens]]-token
    * window spliced out.
    *
    * Differences from the scoring pass, both deliberate:
    *  - **Stride 1, not [[SpanStride]]**: removal must cover every
    *    duplicated window, not a sample — a stride-8 scan leaves up to
    *    7 trailing duplicated tokens per region undetected, which the
    *    rewritten corpus would immediately re-score as dup. Detection
    *    cost is ×[[SpanStride]] the scoring pass, paid only by this
    *    operator.
    *  - **Every occurrence is removed** (the conservative variant):
    *    per duplicated window the cleaned corpus keeps zero copies,
    *    so no cross-doc pair can survive. Keep-one-copy would also
    *    re-score ≈0 but needs a per-token canonical election across
    *    overlapping spans; the removed-mass difference is one copy
    *    per duplicate cluster.
    *
    * The cleaned text is the kept tokens of the NORMALIZED stream
    * (lowercased, single-space) — the same token stream every dedup
    * operator here scores on.
    *
    * Scale: span fan-out and digesting are map-only; the dup-digest
    * relation (min≠max over one digest-keyed shuffle) contains only
    * duplicated spans, so the per-doc removal-start arrays aggregate
    * from a rare relation and join back doc-keyed; the splice itself
    * is a map-side higher-order filter — no token-grain shuffle, no
    * window, and docs without dup spans pay one empty-array check per
    * token. */
  def spanRewrite(spark: SparkSession, dir: String): DataFrame =
    spanRewriteOn(docs(spark, dir))

  private[pipeline] def spanRewriteOn(d: DataFrame): DataFrame =
    spanRewriteFrame(d).orderBy(col("doc_id"))

  /** [[spanRewriteOn]] without the presentation sort (the
    * keeplistFrame rule — composing callers join/aggregate next). */
  private[pipeline] def spanRewriteFrame(d: DataFrame): DataFrame = {
    val toksDf = d.select(col("doc_id"),
      graft.functions.Tokens.tokens(col("text")).as("toks"))
    val spans = toksDf
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"), col("toks"),
        explode_outer(sequence(lit(1), size(col("toks")) - (SpanTokens - 1))).as("start_tok"))
      .select(col("doc_id"), col("start_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("start_tok"), lit(SpanTokens)))).as("digest"))
      .localCheckpoint() // feeds the dup aggregation AND the removal probe
    val dupDigests = spans
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("min_doc") =!= col("max_doc"))
      .select(col("digest"))
    val removalStarts = spans
      .join(dupDigests, Seq("digest"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("start_tok"))).as("dup_starts"))
    toksDf.join(removalStarts, Seq("doc_id"), "left")
      .withColumn("dup_starts",
        coalesce(col("dup_starts"), array().cast("array<int>")))
      .withColumn("kept", filter(col("toks"), (t, i) =>
        !exists(col("dup_starts"), s =>
          (i + 1) >= s && (i + 1) < s + SpanTokens)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  val spanRewriteSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id, start_tok,
       |    md5(array_to_string(list_slice(toks, start_tok, start_tok + ${SpanTokens - 1}), ' ')) AS digest
       |  FROM (
       |    SELECT doc_id, toks,
       |      unnest(generate_series(1, len(toks) - ${SpanTokens - 1})) AS start_tok
       |    FROM t WHERE len(toks) >= $SpanTokens)),
       |dup AS (
       |  SELECT digest FROM spans GROUP BY digest HAVING MIN(doc_id) <> MAX(doc_id)),
       |remtok AS (
       |  SELECT DISTINCT s.doc_id, s.start_tok + o.o AS pos
       |  FROM spans s JOIN dup USING (digest),
       |    LATERAL (SELECT unnest(generate_series(0, ${SpanTokens - 1})) AS o) o),
       |toklist AS (
       |  SELECT t.doc_id, i.i AS pos, toks[i.i] AS tok
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) i),
       |kept AS (
       |  SELECT k.doc_id, k.pos, k.tok
       |  FROM toklist k LEFT JOIN remtok r ON k.doc_id = r.doc_id AND k.pos = r.pos
       |  WHERE r.pos IS NULL),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin

  val spanCoverageSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
       |  FROM documents),
       |starts AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(1, len(toks) - ${SpanTokens - 1}, $SpanStride)) AS start_tok
       |  FROM t WHERE len(toks) >= $SpanTokens),
       |spans AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(toks, start_tok, start_tok + ${SpanTokens - 1}), ' ')) AS digest
       |  FROM starts),
       |dup AS (
       |  SELECT digest, true AS is_dup FROM spans
       |  GROUP BY digest HAVING MIN(doc_id) <> MAX(doc_id)),
       |per_doc AS (
       |  SELECT s.doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
       |  FROM spans s LEFT JOIN dup d USING (digest) GROUP BY 1)
       |SELECT t.doc_id,
       |  COALESCE(p.n_spans, 0) AS n_spans,
       |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       |  round(CAST(COALESCE(p.n_dup_spans, 0) AS DOUBLE) /
       |    CAST(greatest(COALESCE(p.n_spans, 0), 1) AS DOUBLE), 6) AS dup_span_frac
       |FROM t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------ #28aa semantic dedup

  /** Clusters larger than this are EXCLUDED from semantic pairing and
    * flagged loudly (the universal f² rule: within-cluster pairing is
    * quadratic in cluster size, and the cluster count K — not the
    * join strategy — is the scale lever; SemDeDup runs ~100k clusters
    * at billion-doc scale for exactly this reason). */
  val SemMaxClusterSize = 4096L

  /** CORPUS_SEMDEDUP — SemDeDup (Abbas et al. 2023) as a verdict
    * relation: k-means-cluster the embedding corpus (the emb_kmeans
    * two-Lloyd-iteration assignment, reused verbatim), then WITHIN
    * each cluster drop every vector that has an EARLIER (lower
    * vec_id) cluster-mate at cosine ≥ [[CosineThreshold]] — the
    * keep-first rule the text dedup family uses, applied in embedding
    * space. Output one row per vector: its cluster, its best earlier
    * in-cluster similarity (NULL when none reaches the threshold),
    * and the keep verdict; oversize clusters skip pairing and keep
    * everything, loudly flagged (`oversize_cluster`), never silently.
    *
    * Scale: pairing is confined to clusters (never all-pairs) and
    * capped by [[SemMaxClusterSize]]; the only data-sized work beyond
    * the kmeans assignment passes is one equi-join on cluster_id
    * whose fan-out the cap bounds. Exact cosine, rounded to 6 before
    * the threshold compare — both engines flag identical pairs. */
  def semdedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot.dot
    val a2 = Corpus.kmeansAssignments(spark, dir)._2.localCheckpoint()
    val sizes = a2.groupBy(col("cluster_id")).agg(count(lit(1)).as("c_size"))
    val sized = a2.join(broadcast(sizes), Seq("cluster_id")) // K-row metadata
    val small = sized.filter(col("c_size") <= SemMaxClusterSize)
      .select(col("cluster_id"), col("vec_id"), col("v"), col("n2"))
    val pairs = small.as("a").join(small.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        round(dot(col("a.v"), col("b.v")) / (sqrt(col("a.n2")) * sqrt(col("b.n2"))), 6)
          .as("cos"))
      .filter(col("cos") >= CosineThreshold)
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_earlier_sim"))
    sized.join(pairs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        (col("c_size") > SemMaxClusterSize).as("oversize_cluster"),
        col("max_earlier_sim"),
        col("max_earlier_sim").isNull.as("is_kept"))
      .orderBy(col("vec_id"))
  }

  val semdedupSql: String = {
    val dotSql = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i])), (acc, x) -> acc + x)""".stripMargin
    s"""WITH ${Corpus.kmeansCtes},
       |av AS (
       |  SELECT a2.vec_id, a2.cluster_id, vecs.v, vecs.n2
       |  FROM a2 JOIN vecs USING (vec_id)),
       |sizes AS (SELECT cluster_id, COUNT(*) AS c_size FROM av GROUP BY 1),
       |small AS (
       |  SELECT av.* FROM av JOIN sizes USING (cluster_id)
       |  WHERE c_size <= $SemMaxClusterSize),
       |sims AS (
       |  SELECT vec_id, MAX(cos) AS max_earlier_sim FROM (
       |    SELECT b.vec_id,
       |      round(${dotSql("a.v", "b.v")} / (sqrt(a.n2) * sqrt(b.n2)), 6) AS cos
       |    FROM small a JOIN small b
       |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
       |  WHERE cos >= $CosineThreshold GROUP BY vec_id)
       |SELECT av.vec_id, av.cluster_id,
       |  sizes.c_size > $SemMaxClusterSize AS oversize_cluster,
       |  sims.max_earlier_sim,
       |  sims.max_earlier_sim IS NULL AS is_kept
       |FROM av JOIN sizes USING (cluster_id)
       |LEFT JOIN sims ON av.vec_id = sims.vec_id
       |ORDER BY av.vec_id""".stripMargin
  }
}
