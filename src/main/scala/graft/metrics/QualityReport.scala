package graft.metrics

import graft.metrics.Metrics.validateIssues
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G2 — `analyze_span_examples` (`training/quality.py:111-177`) as a
  * distributed job over a span-example table
  * `(text: string, entities: array<struct<typ,start,end,text>>)`.
  *
  * The reference builds one dict in one pass; at scale this is four small
  * aggregations over the same lazily checkpointed projection (counts,
  * issue-kind histogram, type histogram, G1 summaries on three measures).
  * Output: one summary row + two histogram frames ordered by (-count, key)
  * (`quality.py:168-169`).
  */
object QualityReport {

  final case class Report(
      summary: DataFrame,
      issueCounts: DataFrame,
      entityTypeCounts: DataFrame,
      textLength: DataFrame,
      entitiesPerExample: DataFrame,
      entitySpanLength: DataFrame
  )

  def analyze(spark: SparkSession, examples: DataFrame): Report = {
    val n = length(col("text"))
    val withIssues = examples
      .withColumn("issues", validateIssues(col("text"), col("entities")))
      .withColumn("n_text", n)
      .withColumn("n_ents", size(col("entities")))
      .localCheckpoint(false)

    // invalid entity = no span / out-of-bounds / empty (quality.py:147-159)
    val invalidEnt = size(filter(col("entities"), e =>
      e.getField("start") < 0 || e.getField("end") < 0 ||
        e.getField("start") > n || e.getField("end") > n ||
        e.getField("start") >= e.getField("end")))

    val summary = withIssues.agg(
      count(lit(1)).as("examples"),
      sum("n_ents").as("entities"),
      sum(when(size(col("issues")) > 0, 1).otherwise(0)).as("invalid_examples"),
      sum(invalidEnt).as("invalid_entities"))

    val issueCounts = withIssues
      .select(explode(col("issues")).as("kind"))
      .groupBy("kind").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("kind"))

    val entityTypeCounts = withIssues
      .select(explode(col("entities")).as("e"))
      .where(col("e.typ").isNotNull && col("e.typ") =!= "")
      .groupBy(col("e.typ").as("typ")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("typ"))

    val validSpanLen = withIssues
      .select(explode(col("entities")).as("e"), col("n_text"))
      .where(col("e.start") >= 0 && col("e.end") >= 0 &&
        col("e.start") <= col("n_text") && col("e.end") <= col("n_text") &&
        col("e.start") < col("e.end"))
      .select((col("e.end") - col("e.start")).cast("double").as("len"))

    Report(
      summary,
      issueCounts,
      entityTypeCounts,
      Metrics.summarizeNumbers(withIssues.select(col("n_text").cast("double").as("v")), "v", Nil),
      Metrics.summarizeNumbers(withIssues.select(col("n_ents").cast("double").as("v")), "v", Nil),
      Metrics.summarizeNumbers(validSpanLen, "len", Nil)
    )
  }
}
