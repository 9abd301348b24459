package graft.pipeline

import graft.functions.gf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's flagship job: turns → redacted turns, designed for the
  * 10^12-turn case (SURVEY §4):
  *
  *  - the per-turn work is a single narrow projection (one custom expression
  *    per row) — embarrassingly parallel, no shuffle for compute;
  *  - the ONLY shuffle is output clustering (conv_id-salted so a
  *    mega-conversation cannot pin one writer task);
  *  - output rows are clustered and sorted `(conv_id, turn_idx)` within
  *    partitions for stable ordering (north rule O7);
  *  - resume-at-scale is handled by bucketed, lineage-tracked writes
  *    ([[graft.plans.CheckpointedRun]]).
  */
object Deid {

  /** CLI mode aliases (`main.py` + `__init__.py:150-157`): `black/blackbox/
    * redact/mask → blackbox`, `detect → detect`, else `replace`.
    */
  def normalizeCliMode(mode: String): String = {
    val m = Option(mode).getOrElse("").trim.toLowerCase
    if (m == "detect") "detect" else graft.redact.Redactor.normalizeMode(m)
  }

  /** Redact a turns table. Pure narrow transform — composable, unshuffled. */
  def redact(
      turns: DataFrame,
      mode: String = "replace",
      lang: String = "zh",
      withStub: Boolean = false,
      extractHtml: Boolean = true
  ): DataFrame =
    turns
      .withColumn("r", gf.deid(col("text"), mode, lang, withStub, extractHtml))
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("r.text").as("text"),
        col("r.entities").as("entities"),
        col("r.events").as("events"),
        col("r.replacement_map").as("replacement_map")
      )

  /** Salted clustering + stable in-partition order for the write path.
    * Salt = turn_idx / saltBucket: a conversation larger than `saltBucket`
    * turns spreads across ceil(n/saltBucket) partitions while each partition
    * stays internally sorted by (conv_id, turn_idx).
    */
  def clusterForWrite(redacted: DataFrame, saltBucket: Int = 4096): DataFrame =
    redacted
      .repartition(col("conv_id"),
        floor(col("turn_idx").cast("long") / saltBucket))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))

  /** Per-type entity histogram over a redacted table (G9,
    * `quality.py:147-151,169`): counts per type ordered by (-count, type).
    */
  def entityHistogram(redacted: DataFrame): DataFrame =
    redacted
      .select(explode(col("entities")).as("e"))
      .groupBy(col("e.typ").as("typ"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("typ"))
}
