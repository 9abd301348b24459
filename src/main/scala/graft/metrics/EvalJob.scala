package graft.metrics

import graft.plans.Materialize
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The local-eval path of `scripts/evaluate_deid.py:256-366` as one Spark
  * job: examples JSONL ⋈ predictions JSONL → per-example reports
  * (`detect_pii_blocks` + `evaluate_prediction`, both golden-tested in
  * [[DeidEval]]) → `aggregate_reports` metrics row. The GPT-2 generation /
  * perplexity branches are model-gated and out of scope (SURVEY §7.6); this
  * job evaluates existing predictions, which is the script's primary mode.
  *
  * Scale shape: one equi-join on example_id + one narrow per-row map + one
  * global agg — no driver-side loops.
  */
object EvalJob {

  /** Per-example report frame. */
  def reports(
      spark: SparkSession,
      examplesPath: String,
      predictionsPath: String,
      bannedPhrases: Seq[String] = Nil,
      maxExamples: Int = 0
  ): DataFrame = {
    import spark.implicits._
    val ex = Sources.readDeidExamples(spark, examplesPath)
    val capped = if (maxExamples > 0) ex.limit(maxExamples) else ex
    val pairs = Sources.joinEvalPairs(capped,
      Sources.readDeidPredictions(spark, predictionsPath))
    pairs.select("example_id", "input_text", "prediction_text")
      .as[(String, String, String)]
      .map { case (id, input, pred) =>
        val blocks = DeidEval.detectPiiBlocks(input)
        val r = DeidEval.evaluatePrediction(id, input, pred, blocks, bannedPhrases)
        (r.exampleId, r.piiRemovalRecall, r.piiTotal, r.piiLeakCount,
          r.nonPiiSimilarity, r.overRewriteRate, r.typeConsistency,
          r.repetition3gramRate, r.formatCompliant)
      }
      .toDF("example_id", "pii_removal_recall", "pii_total", "pii_leak_count",
        "non_pii_similarity", "over_rewrite_rate", "type_consistency",
        "repetition_3gram_rate", "format_compliant")
  }

  /** `aggregate_reports` (`deid_eval.py:307-337`) as a single global agg,
    * including its empty-input contract (count 0 → recall 1.0,
    * type_consistency 1.0, compliance 1.0, rest 0).
    */
  def aggregate(reports: DataFrame): DataFrame =
    reports.agg(
      count(lit(1)).as("count"),
      coalesce(avg("pii_removal_recall"), lit(1.0)).as("pii_removal_recall"),
      coalesce(sum("pii_total"), lit(0L)).as("pii_total"),
      coalesce(sum("pii_leak_count"), lit(0L)).as("pii_leak_count"),
      when(coalesce(sum("pii_total"), lit(0L)) > 0,
        sum("pii_leak_count").cast("double") / sum("pii_total"))
        .otherwise(0.0).as("pii_leak_rate"),
      coalesce(avg("over_rewrite_rate"), lit(0.0)).as("over_rewrite_rate"),
      coalesce(avg("type_consistency"), lit(1.0)).as("type_consistency"),
      coalesce(avg("repetition_3gram_rate"), lit(0.0)).as("repetition_3gram_rate"),
      coalesce(avg(col("format_compliant").cast("double")), lit(1.0))
        .as("format_compliance_rate"))

  /** reports + metrics written under `outDir` (the script's metrics.json +
    * reports.jsonl shape).
    */
  def run(
      spark: SparkSession,
      examplesPath: String,
      predictionsPath: String,
      outDir: String,
      bannedPhrases: Seq[String] = Nil,
      maxExamples: Int = 0
  ): DataFrame =
    Materialize.scoped(
        reports(spark, examplesPath, predictionsPath, bannedPhrases, maxExamples)) { r =>
      r.write.mode("overwrite").json(s"$outDir/reports")
      val m = aggregate(r)
      m.coalesce(1).write.mode("overwrite").json(s"$outDir/metrics")
      // materialize the single metrics row so the caller's actions on the
      // returned frame don't re-run the whole join after the scope ends
      spark.createDataFrame(
        spark.sparkContext.parallelize(m.collect().toIndexedSeq, 1), m.schema)
    }
}
