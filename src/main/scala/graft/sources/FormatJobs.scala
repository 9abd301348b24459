package graft.sources

import graft.extract.{Segments, XlsxExtract}
import graft.pipeline.DeidCore

/** Format-preserving rebuild jobs (K2 CSV, S9/K XLSX): extract cell
  * segments → detect+replace on the concatenated text → anchor entities back
  * to cells → first-occurrence cell rewrite → re-serialize the document.
  *
  * Mirrors the reference's handler `extract`/`rebuild` pair end to end
  * (`handlers/csv.py:14-93`, `handlers/xlsx.py:13-117`,
  * `tests/test_csv_handler.py:8-25`): original values absent from the
  * rebuilt file, replacements present, non-PII cells byte-identical.
  *
  * Per-document work is one pure function, so the distributed form is a
  * single narrow projection ([[graft.functions.gf.csvDeid]]) — same scale shape as the
  * flagship turn pipeline.
  */
object FormatJobs {

  /** K2: one CSV document → (rewritten CSV text, entity count). */
  def rewriteCsvText(
      csvText: String,
      mode: String = "replace",
      lang: String = "zh"
  ): (String, Int) = {
    val doc = Sources.csvSegments(csvText)
    val r = DeidCore.process(doc.text, mode, lang)
    val anchored = r.entities.flatMap { e =>
      Segments.anchorOf(e, doc.segments).flatMap(_.cell).map(c => (c, e.typ, e.text))
    }
    val rows = Sources.rewriteCells(csvText, anchored, r.replacementMap)
    (renderCsv(rows), r.entities.length)
  }

  /** python `csv.writer` defaults (`csv.py:88-90`): QUOTE_MINIMAL, CRLF
    * terminator after EVERY row.
    */
  def renderCsv(rows: Vector[Vector[String]]): String =
    rows.map(_.map(quoteField).mkString(",")).map(_ + "\r\n").mkString

  private def quoteField(f: String): String = {
    val v = Option(f).getOrElse("")
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
  }

  /** S9+K: one XLSX workbook → (rewritten workbook bytes, entity count). */
  def rewriteXlsx(
      xlsx: Array[Byte],
      mode: String = "replace",
      lang: String = "zh"
  ): (Array[Byte], Int) = {
    val doc = XlsxExtract.extract(xlsx)
    val r = DeidCore.process(doc.text, mode, lang)
    val anchored = r.entities.flatMap { e =>
      Segments.anchorOf(e, doc.segments).flatMap(_.cell).map(c => (c, e.typ, e.text))
    }
    (XlsxExtract.rewrite(xlsx, anchored, r.replacementMap), r.entities.length)
  }

  /** S8+K: one DOCX → (rewritten DOCX bytes, entity count). The reference's
    * docx rebuild is anchor-free replace-all per paragraph
    * (`handlers/docx.py:64-86`).
    */
  def rewriteDocx(
      docx: Array[Byte],
      mode: String = "replace",
      lang: String = "zh"
  ): (Array[Byte], Int) = {
    val doc = graft.extract.DocxExtract.extract(docx)
    val r = DeidCore.process(doc.text, mode, lang)
    (graft.extract.DocxExtract.rewrite(docx, replacementsOf(r)), r.entities.length)
  }

  /** S10+K: one PPTX → (rewritten PPTX bytes, entity count); replace-all per
    * shape (`handlers/pptx.py:85-99`).
    */
  def rewritePptx(
      pptx: Array[Byte],
      mode: String = "replace",
      lang: String = "zh"
  ): (Array[Byte], Int) = {
    val doc = graft.extract.PptxExtract.extract(pptx)
    val r = DeidCore.process(doc.text, mode, lang)
    (graft.extract.PptxExtract.rewrite(pptx, replacementsOf(r)), r.entities.length)
  }

  /** F6 — `{stem}.deid{ext}` output naming (`handlers/text.py:49`; the
    * csv/xlsx/docx/pptx handlers hardcode their extension the same way).
    * pathlib semantics: a leading dot is part of the stem, not a suffix.
    */
  def deidFileName(inputName: String): String = {
    val base = inputName.substring(inputName.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) s"${base.substring(0, dot)}.deid${base.substring(dot)}"
    else s"$base.deid"
  }

  /** entity-order (original, replacement) list — `docx.py:64-76`. */
  private def replacementsOf(r: DeidCore.Result): Seq[(String, String)] =
    r.entities.flatMap { e =>
      if (e.text.nonEmpty && e.typ.nonEmpty)
        r.replacementMap.get(s"${e.typ}:${e.text}").map(e.text -> _)
      else None
    }
}
