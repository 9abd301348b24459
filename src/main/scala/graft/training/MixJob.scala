package graft.training

import graft.metrics.QualityReport
import graft.plans.Materialize
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** `write_mixed_dataset` (`training/mix.py:51-159`) as a Spark job — K6:
  * union multiple span-JSONL sources with per-source caps (O3), optional
  * deterministic shuffle order (O2), write dataset + quality report +
  * manifest.
  *
  * Order semantics at scale: the reference's in-memory
  * `random.Random(seed).shuffle` is cloned bit-exactly for corpora that fit
  * a driver list ([[Mix.pythonShuffleIndices]]); beyond that the job falls
  * back to a seeded hash sort (`xxhash64(text, seed)`) — same statistical
  * effect, documented in the manifest (`order: "hash"`), since a 10^12-row
  * global Fisher–Yates is not meaningful.
  */
object MixJob {

  final case class SourceSpec(name: String, path: String, maxExamples: Int = 0)

  def run(
      spark: SparkSession,
      sources: Seq[SourceSpec],
      outputDir: String,
      datasetName: String,
      split: String,
      shuffle: Boolean = true,
      seed: Long = 0L,
      exactShuffleLimit: Int = 1000000
  ): Map[String, Any] = {
    // the capped sources are cached as ONE tagged union for the call; a
    // single grouped count both fills the cache and gives each source's
    // loaded row count
    val tagged = sources.zipWithIndex.map { case (s, i) =>
      val df = Sources.readSpanExamples(spark, s.path)
      (if (s.maxExamples > 0) df.limit(s.maxExamples) else df).withColumn("_src", lit(i))
    }.reduce(_ unionAll _)
    Materialize.scoped(tagged) { tagged =>
      val perSource = tagged.groupBy("_src").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val loaded = sources.indices.map(i => perSource.getOrElse(i, 0L))
      val combined = tagged.drop("_src")
      val total = loaded.sum

      // The bit-exact path assumes the union's row order equals the reference's
      // sequential single-file read. Spark only guarantees that when each
      // source resolves to ONE file small enough for one split — a directory of
      // part-files (packed size-descending) or a multi-split file would permute
      // the base order while the manifest still claimed order=python_shuffle.
      val exactOrderSafe = sources.forall { s =>
        val p = new org.apache.hadoop.fs.Path(s.path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.globStatus(p)
        st != null && st.length == 1 && st.head.isFile &&
          st.head.getLen <= 128L * 1024 * 1024
      }

      val (ordered, orderKind) =
        if (!shuffle) (combined, "source")
        else if (total <= exactShuffleLimit && exactOrderSafe) {
          // bit-exact Python shuffle: assign the reference's permutation
          import spark.implicits._
          val perm = Mix.pythonShuffleIndices(total.toInt, seed)
          // row i of the concatenation goes to output slot perm-position
          val withIdx = combined.withColumn("_idx",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(monotonically_increasing_id())) - 1)
          val posDf = perm.zipWithIndex
            .map { case (srcIdx, outPos) => (srcIdx, outPos) }
            .toDF("_idx", "_pos")
          (withIdx.join(broadcast(posDf), "_idx").orderBy("_pos")
            .drop("_idx", "_pos"), "python_shuffle")
        } else
          (combined.orderBy(xxhash64(col("text"), lit(seed))), "hash")

      ordered.write.mode(SaveMode.Overwrite).json(s"$outputDir/dataset")

      val report = QualityReport.analyze(spark,
        combined.select(col("text"),
          transform(col("entities"), e => struct(
            e.getField("type").as("typ"),
            e.getField("span").getItem(0).cast("int").as("start"),
            e.getField("span").getItem(1).cast("int").as("end"),
            e.getField("text").as("text"))).as("entities")))
      report.summary.coalesce(1).write.mode(SaveMode.Overwrite)
        .json(s"$outputDir/quality")

      val manifest = Map(
        "dataset" -> datasetName,
        "split" -> split,
        "sources" -> sources.zip(loaded).map { case (s, n) =>
          Map("name" -> s.name, "path" -> s.path,
            "max_examples" -> s.maxExamples, "loaded" -> n)
        },
        "shuffle" -> shuffle,
        "order" -> orderKind,
        "seed" -> seed,
        "count" -> total)
      val json = toJson(manifest)
      val fs = new org.apache.hadoop.fs.Path(outputDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$outputDir/manifest.json"), true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      manifest
    }
  }

  private def toJson(v: Any): String = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => "\"" + k + "\":" + toJson(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case other => "\"" + other.toString + "\""
  }
}
