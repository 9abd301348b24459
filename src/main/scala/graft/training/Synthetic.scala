package graft.training

import graft.functions.PyRandom
import graft.model.Entity

/** Deterministic synthetic span-example generator — bit-exact clone of
  * `/root/reference/src/deid_pipeline/training/synthetic.py:9-121`
  * (`generate_synthetic_span_examples`): one shared `random.Random(seed)`
  * drives name/phone/email/address/id choices per example in a fixed draw
  * order; spans are code-point offsets into the assembled text.
  */
object Synthetic {

  final case class SpanExample(text: String, entities: List[Entity])

  private val ZH_NAMES = IndexedSeq("王小明", "陳怡君", "林志明", "張雅婷")
  private val ZH_ADDRESSES =
    IndexedSeq("台北市信義路1號", "新北市中山路10號", "台中市民生路99號")
  private val ZH_TEMPLATES = IndexedSeq(
    ("病患姓名：", "。\n"), ("聯絡方式：", "。\n"), ("身分證：", "。\n"))
  private val EN_NAMES =
    IndexedSeq("John Smith", "Alice Chen", "Michael Brown", "Emily Davis")
  private val EN_ADDRESSES = IndexedSeq("1 Main St", "10 Broadway Ave", "99 Market Rd")
  private val EN_TEMPLATES = IndexedSeq(
    ("Patient name: ", ".\n"), ("Contact: ", ".\n"), ("ID: ", ".\n"))

  def generate(
      numExamples: Int = 100,
      seed: Long = 0L,
      language: String = "zh"
  ): List[SpanExample] = {
    val rng = new PyRandom(seed)
    val zh = language == "zh"
    val (names, addresses, templates) =
      if (zh) (ZH_NAMES, ZH_ADDRESSES, ZH_TEMPLATES)
      else (EN_NAMES, EN_ADDRESSES, EN_TEMPLATES)

    (0 until numExamples).iterator.map { idx =>
      val parts = new StringBuilder
      val entities = List.newBuilder[Entity]
      var cursor = 0

      def addText(s: String): Unit = {
        parts.append(s)
        cursor += s.codePointCount(0, s.length)
      }
      def addEntity(typ: String, value: String): Unit = {
        val start = cursor
        addText(value)
        entities += Entity(typ, 1.0, 1.0, "synthetic", language, start, cursor, value)
      }

      // draw order is load-bearing (`synthetic.py:90-94`)
      val name = rng.choice(names)
      val phone =
        if (zh) "09" + (1 to 8).map(_ => rng.randint(0, 9)).mkString
        else f"+1-555-${rng.randint(100, 999)}-${rng.randint(1000, 9999)}"
      val email = f"user$idx${rng.randint(0, 9999)}%04d@example.com"
      val address = rng.choice(addresses)
      val ident =
        if (zh) rng.choice("ABCDEFGHJKLMNPQRSTUVXYWZ").toString +
          (1 to 9).map(_ => rng.randint(0, 9)).mkString
        else f"${rng.randint(100, 999)}-${rng.randint(10, 99)}-${rng.randint(1000, 9999)}"

      addText(templates(0)._1); addEntity("NAME", name); addText(templates(0)._2)
      addText(templates(1)._1); addEntity("PHONE", phone); addText(", ")
      addEntity("EMAIL", email); addText(templates(1)._2)
      addText(if (zh) "地址：" else "Address: ")
      addEntity("ADDRESS", address); addText(".\n")
      addText(templates(2)._1); addEntity("ID", ident); addText(templates(2)._2)

      SpanExample(parts.toString, entities.result())
    }.toList
  }
}
