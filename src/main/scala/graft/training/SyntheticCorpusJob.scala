package graft.training

import graft.functions.PyRandom
import graft.plans.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Distributed port of the reference's dataset factory
  * (`/root/reference/sensitive_data_generator/file_writers.py:137-192`
  * `generate_dataset` + `dataset_generator.py`): per item, one random PII
  * record (type, value), a short context paragraph, and a full random
  * document; outputs = per-document text (and PDF) files, a structured
  * csv/json table of (type, value, context), and a full metadata manifest.
  *
  * Spark-first differences from the sequential original, by design:
  *  - per-item determinism: item `i` draws from `PyRandom(seedBase + i)`
  *    (the reference threads ONE global RNG through the loop — impossible
  *    to parallelize; per-item seeding is the distributed equivalent and
  *    each item's intra-record draw ORDER still matches the reference
  *    exactly, golden-tested via `dataset_item` cases);
  *  - deterministic file names `generated_document_{id}.{ext}` (the
  *    reference names by wall-clock timestamp — collides under parallelism);
  *  - the PDF output uses [[graft.extract.PdfBuilder]] (the reference's PDF
  *    writer needs fpdf + a font file; its image writer needs PIL — both
  *    environment-gated there, real here for pdf).
  *
  * Scale shape: generation is one narrow `mapPartitions` over `spark.range`
  * (no shuffle); file writes happen executor-side via the Hadoop FS API;
  * the structured outputs are ordinary DataFrame writes.
  */
object SyntheticCorpusJob {

  final case class Item(
      id: Long, pii_type: String, pii_value: String,
      context: String, document: String)

  /** One item — the reference's per-iteration draw order
    * (`file_writers.py:146-152`): random_pii → value → context paragraph
    * (1..3 sentences, density 0.1) → random document.
    */
  def item(id: Long, seedBase: Long, now: LocalDate): Item = {
    val r = new PyRandom(seedBase + id)
    val (typ, gen) = SensitiveDataGen.randomPii(r, now)
    val value = gen()
    val context = SensitiveDataGen.paragraph(r, now, 1, 3, 0.1)
    val document = SensitiveDataGen.randomDocument(r, now)
    Item(id, typ, value, context, document)
  }

  def items(
      spark: SparkSession,
      n: Long,
      seedBase: Long = 0L,
      now: LocalDate = LocalDate.of(2026, 1, 15)): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      ids.map(i => item(i + 1, seedBase, now)) // ids are 1-based like the reference
    }.toDF()
  }

  /** Generate and write the dataset layout:
    * `text/generated_document_{id}.txt`, `pdf/generated_document_{id}.pdf`,
    * `structured/{csv,json}`, `metadata_full.json` (as a json dir). Returns
    * the manifest frame.
    */
  def run(
      spark: SparkSession,
      outputDir: String,
      n: Long,
      seedBase: Long = 0L,
      formats: Set[String] = Set("txt", "pdf", "docx", "xlsx", "pptx", "csv", "json")): DataFrame = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    val fileFormats = formats.intersect(Set("txt", "pdf", "docx", "xlsx", "pptx"))
    val subdir = Map("txt" -> "text", "pdf" -> "pdf", "docx" -> "word",
      "xlsx" -> "excel", "pptx" -> "ppt")
    Materialize.scoped(items(spark, n, seedBase)) { df =>
      if (fileFormats.nonEmpty) {
        df.select("id", "document").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
            val root = new org.apache.hadoop.fs.Path(outputDir)
            val fs = root.getFileSystem(conf.value)
            def put(sub: String, id: Long, ext: String, bytes: Array[Byte]): Unit = {
              val p = new org.apache.hadoop.fs.Path(root, s"$sub/generated_document_$id.$ext")
              val o = fs.create(p, true)
              try o.write(bytes) finally o.close()
            }
            it.foreach { row =>
              val id = row.getLong(0)
              val doc = row.getString(1)
              // txt/pdf mirror the reference's writers; docx/xlsx/pptx realize
              // its dependency-gated "advanced" writers with the engine's own
              // from-scratch builders (advanced_file_writers.py needs
              // python-docx/openpyxl/pptx — absent there, real here)
              if (fileFormats("txt"))
                put("text", id, "txt", doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              if (fileFormats("pdf"))
                put("pdf", id, "pdf", graft.extract.PdfBuilder.singlePage(doc))
              val lines = doc.split("\n", -1).toSeq
              if (fileFormats("docx"))
                put("word", id, "docx", graft.extract.DocxBuilder.build(lines))
              if (fileFormats("pptx"))
                put("ppt", id, "pptx",
                  graft.extract.PptxBuilder.build(lines.zipWithIndex.map(_.swap)))
              if (fileFormats("xlsx")) {
                val cells = lines.zipWithIndex.flatMap { case (line, r) =>
                  line.split(" ", -1).filter(_.nonEmpty).zipWithIndex.map { case (tok, c) =>
                    graft.extract.XlsxExtract.Cell("Sheet1", r + 1, c + 1,
                      s"${graft.extract.XlsxExtract.colLetters(c + 1)}${r + 1}", tok)
                  }
                }
                put("excel", id, "xlsx",
                  graft.extract.XlsxBuilder.build(Seq("Sheet1" -> cells)))
              }
            }
        }
      }
      if (formats.contains("csv"))
        df.select(col("pii_type").as("type"), col("pii_value").as("value"), col("context"))
          .coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$outputDir/structured/csv")
      if (formats.contains("json"))
        df.select(col("pii_type").as("type"), col("pii_value").as("value"), col("context"))
          .coalesce(1).write.mode("overwrite").json(s"$outputDir/structured/json")
      val manifest = df.withColumn("files", array(
        subdir.keys.toSeq.sorted.filter(formats.contains).map(ext =>
          struct(lit(ext).as("format"),
            concat(lit(s"$outputDir/${subdir(ext)}/generated_document_"),
              col("id"), lit(s".$ext")).as("path"))): _*))
      manifest.write.mode("overwrite").json(s"$outputDir/metadata_full")
    }
    spark.read.json(s"$outputDir/metadata_full")
  }
}
