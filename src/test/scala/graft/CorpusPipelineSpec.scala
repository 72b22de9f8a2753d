package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Classifier, Corpus, Dedup, TextAnalysis}

/** End-to-end corpus-build CLI smoke — the pipeline-family analogue of
  * ReplicateSpec: the composed dedup → decontaminate → quality → pack
  * run must write consistent non-empty outputs. */
class CorpusPipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Same columns (name and type, in order) and the same multiset of rows. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(got.exceptAll(want).isEmpty, "rows missing from the expected frame")
    assert(want.exceptAll(got).isEmpty, "expected rows missing from the output")
  }

  test("pipeline writes a packed corpus and a consistent retention report") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val (nKept, n) = CorpusPipeline.run(spark, dir, out)
    assert(n > 0 && nKept > 0 && nKept <= n)

    val report = spark.read.parquet(s"$out/retention_report")
    val packed = spark.read.parquet(s"$out/corpus_packed")

    // every document got exactly one verdict
    assert(report.count() == n)
    assert(report.select(col("doc_id")).distinct().count() == n)

    // the packed corpus is exactly the kept docs (packing preserves them)
    val keptIds = report.filter(col("keep")).select(col("doc_id"))
    assert(packed.select(col("doc_id")).distinct().count() == keptIds.count())
    assert(packed.join(keptIds, Seq("doc_id"), "left_anti").isEmpty)

    // dropped docs carry a reason, kept docs are marked kept
    assert(report.filter(!col("keep") && col("reason") === "kept").isEmpty)
    val reasons = report.select(col("reason")).distinct().collect().map(_.getString(0)).toSet
    assert(reasons.contains("kept"))
  }

  test("one-pass run equals the sorted stage functions composed stage by stage") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_eq").toString
    val (nKept, n) = CorpusPipeline.run(spark, dir, out)
    val report = spark.read.parquet(s"$out/retention_report")
    val packed = spark.read.parquet(s"$out/corpus_packed")

    // every stage recomputed from its public (sorted) function
    val keep = Dedup.keeplist(spark, dir)
    val drops = CorpusPipeline.resolveDropReason(
      Dedup.decontaminate(spark, dir)
        .select(col("doc_id"), lit("benchmark_overlap").as("drop_reason"))
        .unionByName(TextAnalysis.qualityFilter(spark, dir).filter(!col("keep"))
          .select(col("doc_id"), concat(lit("quality_"), col("reason")).as("drop_reason")))
        .unionByName(Classifier.score(spark, dir).filter(!col("predicted_ref"))
          .select(col("doc_id"), lit("classifier_low_score").as("drop_reason"))))
    val kept = keep.filter(col("keep"))
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    assertSameRows(report, keep.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("drop_reason").isNotNull && col("keep"), col("drop_reason"))
          .otherwise(col("reason")).as("reason"),
        (col("keep") && col("drop_reason").isNull).as("keep")))
    assertSameRows(packed, Corpus.packSequences(spark, dir).join(kept, Seq("doc_id"), "left_semi"))

    // the observed counts are the written row counts
    assert(n == report.count())
    assert(nKept == packed.count())
  }

  test("the retention report composes unsorted stage frames: no range exchange") {
    val plan = CorpusPipeline.retentionFrame(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("drop-reason precedence follows the documented stage order, not string sort") {
    import spark.implicits._
    // doc 1 fails heuristic quality AND the classifier — the report must
    // attribute the earlier stage (quality_*), even though
    // 'classifier_low_score' < 'quality_short' lexicographically
    val unioned = Seq(
      (1L, "quality_short"), (1L, "classifier_low_score"),
      (2L, "benchmark_overlap"), (2L, "quality_repetitive"),
      (2L, "classifier_low_score"),
      (3L, "classifier_low_score"),
      (4L, "quality_short"), (4L, "quality_repetitive")
    ).toDF("doc_id", "drop_reason")
    val got = CorpusPipeline.resolveDropReason(unioned)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "quality_short")
    assert(got(2L) == "benchmark_overlap")
    assert(got(3L) == "classifier_low_score")
    // ties inside one stage stay deterministic (lexicographic within stage)
    assert(got(4L) == "quality_repetitive")
  }
}
