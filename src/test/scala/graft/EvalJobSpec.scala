package graft

import graft.metrics.{DeidEval, EvalJob}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Distributed eval job agrees with the (golden-tested) per-row path. */
class EvalJobSpec extends AnyFunSuite {

  test("examples ⋈ predictions → reports → aggregate matches the Seq twin") {
    val spark = SparkTestBase.spark
    val dir = Files.createTempDirectory("graft_eval")
    Files.writeString(dir.resolve("examples.jsonl"),
      """{"id":"e1","input":"<PII type='PHONE'>0912345678</PII> call me","output":"X call me"}
        |{"id":"e2","input":"nothing sensitive here","output":"nothing sensitive here"}
        |{"id":"e3","input":"<PII type='EMAIL'>a@b.com</PII> mail","output":"[M] mail"}
        |""".stripMargin)
    Files.writeString(dir.resolve("preds.jsonl"),
      """{"id":"e1","prediction":"0912999888 call me"}
        |{"id":"e2","prediction":"nothing sensitive here"}
        |{"id":"e3","prediction":"a@b.com mail Input: leftover"}
        |""".stripMargin)

    val reports = EvalJob.reports(spark, s"$dir/examples.jsonl", s"$dir/preds.jsonl")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(reports.size == 3)
    // e1: the PII value 0912345678 is absent from the prediction → removed
    assert(reports("e1").getAs[Double]("pii_removal_recall") == 1.0)
    // e3: value present AND a banned separator → leak + non-compliant
    assert(reports("e3").getAs[Int]("pii_leak_count") == 1)
    assert(!reports("e3").getAs[Boolean]("format_compliant"))

    // aggregate equals the reference-shaped Seq twin on the same rows
    val seqReports = reports.values.toSeq.sortBy(_.getString(0)).map { r =>
      DeidEval.ExampleReport(r.getString(0), r.getAs[Double]("pii_removal_recall"),
        r.getAs[Int]("pii_total"), r.getAs[Int]("pii_leak_count"),
        r.getAs[Double]("non_pii_similarity"), r.getAs[Double]("over_rewrite_rate"),
        r.getAs[Double]("type_consistency"), r.getAs[Double]("repetition_3gram_rate"),
        r.getAs[Boolean]("format_compliant"))
    }
    val want = DeidEval.aggregateReports(seqReports)
    val got = EvalJob.aggregate(
      EvalJob.reports(spark, s"$dir/examples.jsonl", s"$dir/preds.jsonl"))
      .collect().head
    assert(got.getAs[Long]("count") == want("count").toLong)
    assert(math.abs(got.getAs[Double]("pii_removal_recall") - want("pii_removal_recall")) < 1e-12)
    assert(got.getAs[Long]("pii_leak_count") == want("pii_leak_count").toLong)
    assert(math.abs(got.getAs[Double]("pii_leak_rate") - want("pii_leak_rate")) < 1e-12)
    assert(math.abs(got.getAs[Double]("type_consistency") - want("type_consistency")) < 1e-12)
    assert(math.abs(got.getAs[Double]("format_compliance_rate") - want("format_compliance_rate")) < 1e-12)
    // the job form writes the same metrics row and leaves no cache behind
    spark.catalog.clearCache()
    val ran = EvalJob.run(spark, s"$dir/examples.jsonl", s"$dir/preds.jsonl", s"$dir/out")
      .collect().head
    assert(ran.getAs[Long]("count") == want("count").toLong)
    assert(spark.read.json(s"$dir/out/reports").count() == 3)
    assert(SparkTestBase.cacheIsEmpty, "EvalJob.run left its report cache behind")
  }

  test("empty input hits aggregate_reports' empty contract") {
    val spark = SparkTestBase.spark
    val dir = Files.createTempDirectory("graft_eval_empty")
    Files.writeString(dir.resolve("examples.jsonl"), "")
    Files.writeString(dir.resolve("preds.jsonl"), "")
    val m = EvalJob.aggregate(
      EvalJob.reports(spark, s"$dir/examples.jsonl", s"$dir/preds.jsonl"))
      .collect().head
    assert(m.getAs[Long]("count") == 0L)
    assert(m.getAs[Double]("pii_removal_recall") == 1.0)
    assert(m.getAs[Double]("pii_leak_rate") == 0.0)
    assert(m.getAs[Double]("type_consistency") == 1.0)
    assert(m.getAs[Double]("format_compliance_rate") == 1.0)
  }
}
