package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.PyRandom
import graft.training.SensitiveDataGen

import org.scalatest.funsuite.AnyFunSuite

import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** Byte parity with the reference's `sensitive_data_generator` package
  * (generators.py + formatters.py) under seeded MT19937 + frozen
  * datetime.now() — 480 golden cases from `tools/gen_sensitive.py`,
  * covering every generator, the three document formatters, and seeded
  * multi-call streams (draw accounting across call boundaries).
  */
class SensitiveDataGenSpec extends AnyFunSuite {

  private val root = {
    val in = getClass.getResourceAsStream("/golden_sensitive.json")
    require(in != null, "run tools/gen_sensitive.py")
    try new ObjectMapper().readTree(in) finally in.close()
  }

  private val now = LocalDate.parse(root.get("now").asText())

  private def run(kind: String, r: PyRandom): String = kind match {
    case "dataset_item" =>
      // r is pre-seeded with the case seed; replicate item()'s draw block
      val (typ, gen) = SensitiveDataGen.randomPii(r, now)
      val value = gen()
      val ctx = SensitiveDataGen.paragraph(r, now, 1, 3, 0.1)
      val doc = SensitiveDataGen.randomDocument(r, now)
      Seq(typ, value, ctx, doc).mkString("\u0000")
    case "tw_id" => SensitiveDataGen.twId(r)
    case "tw_phone" => SensitiveDataGen.twPhone(r)
    case "tw_address" => SensitiveDataGen.twAddress(r)
    case "tw_name" => SensitiveDataGen.twName(r)
    case "medical_record_id" => SensitiveDataGen.medicalRecordId(r)
    case "credit_card" => SensitiveDataGen.creditCard(r)
    case "date_of_birth" => SensitiveDataGen.dateOfBirth(r, now)
    case "email" => SensitiveDataGen.email(r)
    case "passport" => SensitiveDataGen.passport(r)
    case "license_plate" => SensitiveDataGen.licensePlate(r)
    case "health_insurance" => SensitiveDataGen.healthInsurance(r)
    case "paragraph" => SensitiveDataGen.paragraph(r, now)
    case "medical_record_doc" => SensitiveDataGen.medicalRecord(r, now)
    case "financial_doc" => SensitiveDataGen.financialDocument(r, now)
    case "random_doc" => SensitiveDataGen.randomDocument(r, now)
    case "contract_doc" => SensitiveDataGen.contractDocument(r, now)
    case "medical_report" => SensitiveDataGen.medicalReport(r, now)
    case "financial_statement" => SensitiveDataGen.financialStatement(r, now)
    case "stream" =>
      Seq(
        SensitiveDataGen.twId(r),
        SensitiveDataGen.twAddress(r),
        SensitiveDataGen.paragraph(r, now, 2, 4, 0.5),
        SensitiveDataGen.email(r),
        SensitiveDataGen.financialDocument(r, now)
      ).mkString("\u0000")
  }

  test("480-case golden battery: every case byte-exact") {
    var n = 0
    root.get("cases").elements().asScala.foreach { c =>
      val kind = c.get("kind").asText()
      val seed = c.get("seed").asLong()
      val want = c.get("value").asText()
      val got = run(kind, new PyRandom(seed))
      assert(got == want, s"kind=$kind seed=$seed")
      n += 1
    }
    assert(n == 480)
  }

  test("generated corpora feed the deid pipeline: PII detected in documents") {
    // the generated documents carry format-valid zh PII — the engine's own
    // detectors must fire on them (ties the factory to the pipeline)
    val r = new PyRandom(7L)
    val doc = SensitiveDataGen.medicalRecord(r, now)
    val ents = graft.pipeline.DeidCore.detect(doc, "zh", withStub = false)
    assert(ents.exists(_.typ == "ID"), s"no ID in:\n$doc")
    val fin = SensitiveDataGen.financialDocument(new PyRandom(8L), now)
    val fents = graft.pipeline.DeidCore.detect(fin, "zh", withStub = false)
    assert(fents.nonEmpty)
  }
  test("distributed dataset factory: files + structured outputs + manifest") {
    val spark = SparkTestBase.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_synth_corpus").toString
    spark.catalog.clearCache()
    val manifest = graft.training.SyntheticCorpusJob.run(spark, dir, n = 12)
    assert(manifest.count() == 12)
    assert(SparkTestBase.cacheIsEmpty, "SyntheticCorpusJob.run left its item cache behind")
    // per-document text + pdf files exist and carry the document text
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/text/generated_document_3.txt")), "UTF-8")
    assert(txt.nonEmpty)
    val pdf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/pdf/generated_document_3.pdf"))
    assert(graft.extract.PdfExtract.extractText(pdf).nonEmpty)
    // office outputs (the reference's dependency-gated "advanced" writers,
    // realized here): round-trip through the engine's own extractors
    val docx = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/word/generated_document_3.docx"))
    assert(graft.extract.DocxExtract.extract(docx).text.nonEmpty)
    val xlsx = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/excel/generated_document_3.xlsx"))
    assert(graft.extract.XlsxExtract.extract(xlsx).text.nonEmpty)
    // structured outputs load back with the reference's column contract
    val csv = spark.read.option("header", "true").csv(s"$dir/structured/csv")
    assert(csv.columns.toSeq == Seq("type", "value", "context") && csv.count() == 12)
    // determinism: same seedBase => same items
    val again = graft.training.SyntheticCorpusJob.items(spark, 12).collect()
    val first = graft.training.SyntheticCorpusJob.items(spark, 12).collect()
    assert(again.map(_.toString).toSeq == first.map(_.toString).toSeq)
    // and the factory's output feeds the deid pipeline end to end
    val outDir = java.nio.file.Files.createTempDirectory("graft_synth_deid").toString
    val (files, ents) = graft.sources.FilesJob.run(spark, s"$dir/text", outDir)
    assert(files == 12L && ents >= 0L)
  }
}