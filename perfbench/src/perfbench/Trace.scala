package perfbench

import graft.detect.{Detectors, RegexRules, Resolver}
import graft.extract.HtmlExtract
import graft.functions.{DeidTurnExpr, Digests}
import graft.pipeline.DeidCore
import graft.redact.Redactor
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** A timed interval; `parent` is the index of the enclosing span or -1.
  * Spans of one row or pass share a `trace` id.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, trace: String) {
  def us: Double = (endNs - startNs) / 1e3
}

/** Spans kept in memory and written out once, when the benchmark ends. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  def add(name: String, startNs: Long, endNs: Long, parent: Int, trace: String): Int = {
    all += Span(name, startNs, endNs, parent, trace)
    all.size - 1
  }
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.zipWithIndex.foreach { case (s, i) =>
      w.println(Json.obj(Seq("trace" -> s.trace, "span" -> i, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Single-threaded replay of a stratified row sample through each layer's
  * public entry point, in `DeidCore.process` order.
  */
object Replay {

  /** Seeded stratified sample: strata are (row kind × length quartile within
    * the kind), allocation proportional to stratum size with at least two
    * rows each. Returns (row index, weight); the weights sum to 1 and make
    * sample means estimate whole-input means.
    */
  def stratified(rows: IndexedSeq[Gen.Row], n: Int, seed: Long): Vector[(Int, Double)] = {
    val total = rows.size.toDouble
    val strata = rows.indices.groupBy(i => rows(i).kind).toSeq.sortBy(_._1).flatMap { case (_, idx) =>
      val byLen = idx.sortBy(i => rows(i).text.length)
      byLen.grouped(math.max(1, (byLen.size + 3) / 4)).map(_.toArray)
    }
    val r = new Gen.Rng(seed ^ 0x5a3c1eL)
    strata.flatMap { h =>
      val nh = math.min(h.length, math.max(2, math.round(n * h.length / total).toInt))
      r.shuffle(h)
      h.take(nh).map(i => (i, h.length / total / nh))
    }.sortBy(_._1).toVector
  }

  private final case class RowCounts(html: Boolean, inBytes: Int, textBytes: Int, raw: Int,
      resolved: Int, events: Int, ruleSpans: Array[Int])

  private val layers = Seq("extract", "detect", "resolve", "digest", "redact")

  /** Replays `sample` `reps` times after one warm-up pass, recording spans;
    * per-row durations are medians over the reps.
    */
  def run(rows: IndexedSeq[Gen.Row], sample: Vector[(Int, Double)], mode: String,
      spans: Spans, reps: Int = 3): Map[String, Double] = {
    val rules = RegexRules.zh
    val otherMode = if (mode == "blackbox") "replace" else "blackbox"
    val expr = DeidTurnExpr(BoundReference(0, StringType, nullable = true), mode, "zh")
    val counts = new Array[RowCounts](sample.size)
    val durations = Array.fill(sample.size)(scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]])

    def replayRow(k: Int, record: Boolean): Unit = {
      val raw = rows(sample(k)._1).text
      val trace = s"row-${sample(k)._1}"
      val local = ArrayBuffer.empty[Span]
      val html = HtmlExtract.looksLikeHtml(raw)
      val text = if (html) HtmlExtract.getText(raw) else raw

      // one rule at a time first: it also brings the row's text and every
      // matcher into cache, so the row's layers and the monolithic call
      // below run in the same state and compare
      val ruleSpans = new Array[Int](rules.size)
      local += Span("detect.rules", System.nanoTime(), 0L, -1, trace)
      var i = 0
      while (i < rules.size) {
        val a = System.nanoTime()
        ruleSpans(i) = Detectors.regexDetect(text, IndexedSeq(rules(i))).length
        local += Span(s"detect.rule.$i", a, System.nanoTime(), 0, trace)
        i += 1
      }
      local(0) = local(0).copy(endNs = System.nanoTime())

      val r0 = System.nanoTime()
      val isHtml = HtmlExtract.looksLikeHtml(raw)
      val extracted = if (isHtml) HtmlExtract.getText(raw) else raw
      val r1 = System.nanoTime()
      val found = Detectors.regexDetect(extracted, "zh")
      val r2 = System.nanoTime()
      val resolved = Resolver.resolve(found)
      val r3 = System.nanoTime()
      val ctx = Digests.sha256Hex(extracted)
      val r4 = System.nanoTime()
      val (_, events) =
        if (mode == "blackbox") Redactor.blackboxMode(extracted, resolved)
        else Redactor.replaceMode(extracted, resolved, Some(ctx), isTw = true)
      val r5 = System.nanoTime()
      val rowIdx = local.size
      local += Span("row", r0, r5, -1, trace)
      Seq(r0, r1, r2, r3, r4).zip(Seq(r1, r2, r3, r4, r5)).zip(layers).foreach {
        case ((a, b), name) => local += Span(name, a, b, rowIdx, trace)
      }

      val p0 = System.nanoTime()
      DeidCore.process(text, mode, "zh")
      val p1 = System.nanoTime()
      expr.eval(InternalRow(UTF8String.fromString(raw)))
      val p2 = System.nanoTime()
      local += Span("process", p0, p1, -1, trace)
      local += Span("deid_expr", p1, p2, -1, trace)
      // the other redaction mode on the same spans, for the redact.* pair
      val o0 = System.nanoTime()
      if (mode == "blackbox") Redactor.replaceMode(text, resolved, Some(ctx), isTw = true)
      else Redactor.blackboxMode(text, resolved)
      local += Span(s"redact.$otherMode", o0, System.nanoTime(), -1, trace)

      if (record) {
        val base = spans.all.size
        local.foreach { s =>
          spans.add(s.name, s.startNs, s.endNs, if (s.parent < 0) -1 else base + s.parent, s.trace)
          durations(k).getOrElseUpdate(s.name, ArrayBuffer.empty) += s.us
        }
        counts(k) = RowCounts(html, raw.getBytes(UTF_8).length, text.getBytes(UTF_8).length,
          found.length, resolved.length, events.size, ruleSpans)
      }
    }

    sample.indices.foreach(replayRow(_, record = false))
    (0 until reps).foreach(_ => sample.indices.foreach(replayRow(_, record = true)))

    val w = sample.map(_._2)
    def us(k: Int, name: String): Double = Stats.median(durations(k)(name).toSeq)
    def mean(f: Int => Double): Double = sample.indices.map(k => w(k) * f(k)).sum
    def ratio(num: Int => Double, den: Int => Double): Double = {
      val d = mean(den)
      if (d == 0) 0.0 else mean(num) / d
    }
    val rowUs = sample.indices.map(k => (us(k, "extract") + us(k, "process"), w(k)))
    val perRule = rules.indices.flatMap { i =>
      Seq(s"detect.rule.$i.us_per_row" -> mean(k => us(k, s"detect.rule.$i")),
        s"detect.rule.$i.spans_per_row" -> mean(k => counts(k).ruleSpans(i).toDouble))
    }
    val redactUs = Map(mode -> mean(k => us(k, "redact")),
      otherMode -> mean(k => us(k, s"redact.$otherMode")))
    Map(
      "functions.deid_expr.us_per_row" -> mean(k => us(k, "deid_expr")),
      "functions.boundary.us_per_row" ->
        mean(k => us(k, "deid_expr") - us(k, "extract") - us(k, "process")),
      "redact.replace.us_per_row" -> redactUs("replace"),
      "redact.blackbox.us_per_row" -> redactUs("blackbox"),
      "redact.events_per_row" -> mean(k => counts(k).events.toDouble),
      "digest.sha256.us_per_row" -> mean(k => us(k, "digest")),
      "extract.html.us_per_row" -> mean(k => us(k, "extract")),
      "extract.html.row_share" -> mean(k => if (counts(k).html) 1.0 else 0.0),
      "extract.html.bytes_out_ratio" -> ratio(
        k => if (counts(k).html) counts(k).textBytes.toDouble else 0.0,
        k => if (counts(k).html) counts(k).inBytes.toDouble else 0.0),
      "detect.us_per_row" -> mean(k => us(k, "detect")),
      "detect.us_per_kb" -> ratio(k => us(k, "detect"), k => counts(k).textBytes / 1024.0),
      "detect.raw_spans_per_row" -> mean(k => counts(k).raw.toDouble),
      "resolve.us_per_row" -> mean(k => us(k, "resolve")),
      "resolve.kept_ratio" -> ratio(k => counts(k).resolved.toDouble, k => counts(k).raw.toDouble),
      "pipeline.process.us_per_row" -> mean(k => us(k, "process")),
      "pipeline.row_us.p50" -> Stats.weightedQuantile(rowUs, 0.5),
      "pipeline.row_us.p99" -> Stats.weightedQuantile(rowUs, 0.99),
      "pipeline.row_us.max" -> rowUs.map(_._1).max,
      "pipeline.unattributed_share" -> (1 - ratio(
        k => Seq("detect", "resolve", "digest", "redact").map(us(k, _)).sum,
        k => us(k, "process")))
    ) ++ perRule
  }
}
