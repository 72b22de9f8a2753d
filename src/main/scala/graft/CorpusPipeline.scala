package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus build CLI — the pipeline-family analogue
  * of [[Replicate]]: documents parquet → retention decisions (exact +
  * near dedup), benchmark decontamination, heuristic quality
  * filtering, model-based classifier filtering, split/mixture
  * assignment, sequence packing — one filtered, annotated corpus plus
  * its composition report, written as parquet.
  *
  * Stage order matters and mirrors production pipelines: dedup first
  * (a duplicated benchmark doc must not survive via its copy),
  * decontamination second (drops eval overlap from the kept set),
  * quality rules third (cheap per-doc signals over what remains),
  * the classifier fourth (the CCNet-style model pass — in production
  * scored via the persisted model artifact, [[pipeline.Classifier
  * .scoreExpr]]), then split/packing over the survivors.
  *
  * [[run]] computes each stage once: it writes `retention_report`
  * (the keep-list joined with the first later-stage drop reason),
  * reads the kept set back from that artifact, semi-joins the packed
  * sequences against it and writes `corpus_packed`. The returned
  * counts are `Observation`s on the two writes, so no job re-runs a
  * written plan just to count it.
  *
  * Usage: `sbt "runMain graft.CorpusPipeline <sfDir> <outDir>"`.
  * At 100 TB the same lines run on a cluster with the parquet paths
  * pointed at the lake — every stage is the scale-shaped operator
  * documented in SURVEY §5. */
object CorpusPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CorpusPipeline <sfDir> <outDir>")
    val Array(sfDir, out) = args.take(2)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val (nKept, n) = run(spark, sfDir, out)
    println(s"corpus built: $out/corpus_packed ($nKept of $n docs kept), " +
      s"$out/retention_report")
    spark.stop()
  }

  /** One reason per dropped doc from the unioned per-stage
    * `(doc_id, drop_reason)` frames. Precedence is the DOCUMENTED stage
    * order — decontaminate (1) before heuristic quality (2) before the
    * classifier (3) — made explicit via min over (priority, reason),
    * never an alphabetical accident of the reason strings
    * (`classifier_low_score` sorts before `quality_*`, which would
    * invert the pipeline order for a doc failing both). */
  def resolveDropReason(unioned: DataFrame): DataFrame = {
    val stagePriority = when(col("drop_reason") === "benchmark_overlap", 1)
      .when(col("drop_reason").startsWith("quality_"), 2)
      .otherwise(3)
    unioned.groupBy(col("doc_id"))
      .agg(min(struct(stagePriority.as("p"), col("drop_reason").as("r")))
        .getField("r").as("drop_reason"))
  }

  /** The pipeline body, session-agnostic (main's CLI shell around it;
    * CorpusPipelineSpec drives it under the shared test session).
    * The kept set is read back from the written report rather than
    * recomputed — the standing-state rule of
    * [[pipeline.Dedup.writeKeeplist]]. Returns (packed docs kept,
    * total docs), both observed on the writes. */
  def run(spark: SparkSession, sfDir: String, out: String): (Long, Long) = {
    val docs = Observation("corpus_docs")
    val packedDocs = Observation("corpus_packed_docs")
    retentionFrame(spark, sfDir).observe(docs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$out/retention_report")
    // 4. the kept corpus with split + packing coordinates
    val kept = spark.read.parquet(s"$out/retention_report")
      .filter(col("keep")).select(col("doc_id"))
    pipeline.Corpus.packSequences(spark, sfDir)
      .join(kept, Seq("doc_id"), "left_semi")
      .observe(packedDocs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$out/corpus_packed")
    (packedDocs.get("n").asInstanceOf[Long], docs.get("n").asInstanceOf[Long])
  }

  /** One verdict per document: the dedup keep-list joined with the
    * first drop reason of the later stages. Composed only of unsorted
    * stage frames — a sorted stage function under the drop-reason
    * Union would plan its own range exchange and sampling job. */
  private[graft] def retentionFrame(spark: SparkSession, sfDir: String): DataFrame = {
    // 1. retention: exact + near-dup keep/drop decisions per doc
    val keep = pipeline.Dedup.keeplistFrame(spark, sfDir)
    // 2. decontamination: docs sharing an n-gram with the benchmark slice
    val contaminated = pipeline.Dedup.decontaminateFrame(spark, sfDir)
      .select(col("doc_id"), lit("benchmark_overlap").as("drop_reason"))
    // 3. quality rules: length/repetition/heuristic keep-or-drop
    val lowQuality = pipeline.TextAnalysis.qualityFilterFrame(spark, sfDir)
      .filter(!col("keep"))
      .select(col("doc_id"), concat(lit("quality_"), col("reason")).as("drop_reason"))
    // 3b. model-based quality: docs the classifier scores below the ½
    // keep threshold (reference-likeness — the CCNet model pass)
    val lowScore = pipeline.Classifier.scoreFrame(spark, sfDir)
      .filter(!col("predicted_ref"))
      .select(col("doc_id"), lit("classifier_low_score").as("drop_reason"))
    val drops = resolveDropReason(
      contaminated.unionByName(lowQuality).unionByName(lowScore))
    keep.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("drop_reason").isNotNull && col("keep"), col("drop_reason"))
          .otherwise(col("reason")).as("reason"),
        (col("keep") && col("drop_reason").isNull).as("keep"))
  }
}
