package perfbench

import java.util.SplittableRandom

/** Seeded input generator for the workloads.
  *
  * Uses only the JDK, never the program's own generators, so a change to the
  * program cannot change the benchmark's inputs. The same seed gives the
  * same rows. Each workload fixes the multiset of row kinds and target
  * lengths (only content and order depend on the seed), so runs on
  * different seeds do the same amount of work and their figures compare.
  */
object Gen {

  /** One generated turn; `pii` counts the PII values planted in it. */
  final case class Row(
      convId: String,
      turnIdx: Int,
      role: String,
      text: String,
      tool: String,
      kind: String,
      pii: Int
  )

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
    def digits(n: Int): String = {
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(('0' + r.nextInt(10)).toChar); i += 1 }
      sb.toString
    }
    def upper: Char = ('A' + r.nextInt(26)).toChar
    def hex(n: Int): String = {
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb.append(Character.forDigit(r.nextInt(16), 16)); i += 1 }
      sb.toString
    }
    def shuffle[A](xs: Array[A]): Unit = {
      var i = xs.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = xs(i); xs(i) = xs(j); xs(j) = t
        i -= 1
      }
    }
  }

  // ---- PII values, in the reference's formats --------------------------

  private val cities = Vector("台北市", "臺北市", "新北市", "桃園市", "台中市", "臺南市", "高雄市")
  private val districts = Vector("信義區", "大安區", "中正區", "板橋區", "西屯區", "前鎮區", "東區")
  private val roads = Vector("中山路", "民生東路", "建國路", "信義路", "光復南路", "中正路", "忠孝東路",
    "和平街", "自由街", "文化大道")
  private val sections = Vector("", "一段", "二段", "三段", "五段")
  private val users = Vector("alice", "bob.chen", "mei_lin", "kevin.wu", "service", "hr-team",
    "j.huang", "support", "tina88", "ops")
  private val domains = Vector("example.com", "mail.example.org", "corp.example.com.tw", "test.io",
    "hospital.example.tw", "bank.example.net")
  private val streets = Vector("Main", "Oak", "Pine", "Maple", "Cedar", "Elm", "Lake", "Hill")
  private val streetTypes = Vector("Street", "St", "Avenue", "Ave", "Road", "Rd", "Lane", "Blvd")

  def twId(r: Rng): String = s"${r.upper}${r.between(1, 2)}${r.digits(8)}"
  def phone(r: Rng): String =
    if (r.chance(0.5)) s"09${r.digits(2)}-${r.digits(3)}-${r.digits(3)}" else s"09${r.digits(8)}"
  def email(r: Rng): String = s"${r.pick(users)}${r.int(1000)}@${r.pick(domains)}"
  def zhAddress(r: Rng): String = {
    val floor = if (r.chance(0.4)) s"${r.between(2, 20)}樓" else ""
    s"${r.pick(cities)}${r.pick(districts)}${r.pick(roads)}${r.pick(sections)}${r.between(1, 399)}號$floor"
  }
  def passport(r: Rng): String =
    (if (r.chance(0.5)) s"${r.upper}" else s"${r.upper}${r.upper}") + r.digits(7)
  def ubn(r: Rng): String = r.digits(8)
  def medicalId(r: Rng): String = s"${r.upper}${r.digits(7)}"
  def ssn(r: Rng): String = s"${r.digits(3)}-${r.digits(2)}-${r.digits(4)}"
  def usPhone(r: Rng): String = s"(${r.between(201, 989)}) ${r.digits(3)}-${r.digits(4)}"
  def usStreet(r: Rng): String = s"${r.between(10, 9999)} ${r.pick(streets)} ${r.pick(streetTypes)}"

  private val zhPii: Vector[Rng => String] = Vector(
    r => s"我的電話是${phone(r)}，",
    r => s"身分證字號${twId(r)}。",
    r => s"請寄到${email(r)}，謝謝。",
    r => s"地址是${zhAddress(r)}。",
    r => s"護照號碼${passport(r)}。",
    r => s"公司統一編號${ubn(r)}。",
    r => s"病歷號碼${medicalId(r)}。"
  )
  private val enPii: Vector[Rng => String] = Vector(
    r => s"My phone is ${phone(r)}. ",
    r => s"Email me at ${email(r)} please. ",
    r => s"SSN ${ssn(r)} is on file. ",
    r => s"Call ${usPhone(r)} after 5pm. ",
    r => s"Ship it to ${usStreet(r)}. ",
    r => s"ID ${twId(r)} was verified. ",
    r => s"Passport ${passport(r)} expires soon. "
  )
  private val zhPlain = Vector("好的，我明天再確認一下。", "請問這個訂單什麼時候會出貨？", "謝謝你的協助！",
    "會議改到下午三點。", "我已經把資料上傳了。", "這個問題我們會盡快處理。", "麻煩幫我查一下帳戶狀態。",
    "系統今天有點慢。", "收到，稍後回覆您。", "可以再說明一次流程嗎？", "報表已經更新完成。",
    "客服人員會再聯絡您。")
  private val enPlain = Vector("Sure, I'll check tomorrow. ", "Can you share the latest report? ",
    "Thanks for the quick reply! ", "The meeting moved to 3pm. ", "Let me look into the logs. ",
    "I uploaded the file to the shared drive. ", "Status is OK now. ", "What time works for you? ",
    "The build finished without errors. ", "Please review the draft when you can. ")

  private def plainFragment(r: Rng, zhShare: Double): String =
    if (r.chance(zhShare)) r.pick(zhPlain) else r.pick(enPlain)
  private def piiFragment(r: Rng, zhShare: Double): String =
    if (r.chance(zhShare)) r.pick(zhPii)(r) else r.pick(enPii)(r)

  /** Fixed multiset of (kind, target length) pairs, in seeded order. Each
    * kind gets `share` of the rows, with lengths on a quantile grid of
    * `quantile` over its own rows; the last kind takes the remainder.
    */
  private def plan(n: Int, shares: Seq[(String, Double)], r: Rng)(
      quantile: Double => Int): Array[(String, Int)] = {
    val counts = shares.init.map { case (k, s) => k -> math.round(n * s).toInt }
    val all = counts :+ (shares.last._1 -> (n - counts.map(_._2).sum))
    val out = all.flatMap { case (k, c) => (0 until c).map(i => (k, quantile((i + 0.5) / c))) }.toArray
    r.shuffle(out)
    out
  }

  // ---- chat turns -------------------------------------------------------

  private def chatText(r: Rng, kind: String, target: Int): (String, Int) = {
    val zhShare = r.pick(Vector(0.9, 0.5, 0.1)) // zh-dominant, mixed, en-dominant
    val sb = new StringBuilder
    var pii = 0
    kind match {
      case "plain" =>
        while (sb.length < target) sb.append(plainFragment(r, zhShare))
      case "pii" =>
        val want = r.between(1, 3)
        while (sb.length < target || pii < want) {
          if (pii < want && (r.chance(0.5) || sb.length >= target)) {
            sb.append(piiFragment(r, zhShare)); pii += 1
          } else sb.append(plainFragment(r, zhShare))
        }
      case "html" =>
        sb.append("<html><body><p>")
        sb.append(plainFragment(r, zhShare))
        sb.append("</p><p><b>")
        sb.append(piiFragment(r, zhShare)); pii += 1
        sb.append("</b></p>")
        while (sb.length < target) sb.append(s"<p>${plainFragment(r, zhShare)}</p>")
        sb.append("<a href=\"/help\">help</a></body></html>")
    }
    (sb.toString, pii)
  }

  private def turns(seed: Long, n: Int, convSize: (Rng, Int) => Int): Vector[Row] = {
    val r = new Rng(seed)
    // mostly <= 120 chars, a tail to ~300
    val rowPlan = plan(n, Seq("plain" -> 0.40, "html" -> 0.125, "pii" -> 0.475), r)(u =>
      if (u < 0.9) 20 + (u / 0.9 * 100).toInt else 120 + ((u - 0.9) / 0.1 * 180).toInt)
    val out = Vector.newBuilder[Row]
    var i = 0
    var conv = 0
    while (i < n) {
      val size = math.min(convSize(r, conv), n - i)
      var t = 0
      while (t < size) {
        val (kind, target) = rowPlan(i)
        val (text, pii) = chatText(r, kind, target)
        val role = if (t % 3 == 2) "tool" else if (t % 2 == 0) "user" else "assistant"
        val tool = if (role == "tool") r.pick(Vector("search", "sql", "browser")) else null
        out += Row(f"c$conv%06d", t, role, text, tool, kind, pii)
        t += 1; i += 1
      }
      conv += 1
    }
    out.result()
  }

  /** `chat_replace`: short mixed zh/en turns, conversations of 2–30 turns. */
  def chatReplace(seed: Long, n: Int): Vector[Row] =
    turns(seed, n, (r, _) => r.between(2, 30))

  /** `chat_archive`: the same turns, but conversation 0 holds 30% of them. */
  def chatArchive(seed: Long, n: Int): Vector[Row] = {
    val mega = (n * 0.3).toInt
    turns(seed ^ 0x5a17L, n, (r, conv) => if (conv == 0) mega else r.between(2, 20))
  }

  // ---- long tool-output / pasted documents ------------------------------

  private val names = Vector("王小明", "陳美玲", "林志豪", "張雅婷", "李建國", "黃淑芬")
  private val hospitals = Vector("台大醫院", "榮民總醫院", "長庚醫院", "馬偕醫院")
  private val companies = Vector("宏達科技股份有限公司", "大華銀行", "永豐物流", "新光保險")
  private val classes = Vector("com.example.billing.InvoiceService", "com.example.auth.TokenFilter",
    "org.example.cache.LruCache", "com.example.api.v2.OrderController",
    "com.example.jobs.ReportScheduler", "io.example.net.HttpClientPool")
  private val levels = Vector("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")

  private def zhProse(r: Rng): String = r.pick(Vector(
    "本公司致力於提供最好的服務，如有任何問題歡迎與我們聯繫。",
    "以下內容為系統自動產生，請勿直接回覆此郵件。",
    "我們重視您的隱私，所有資料皆依法妥善保存。",
    "最新消息：年度系統維護將於週末進行，期間服務可能中斷。",
    "This page describes the service terms and the support process in detail. ",
    "Customers can track orders online or contact the help desk for assistance. "))

  private def htmlPage(r: Rng, target: Int): (String, Int) = {
    val sb = new StringBuilder
    var pii = 0
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>客戶服務中心 Support</title>")
    sb.append("<style>")
    (0 until r.between(4, 12)).foreach(i =>
      sb.append(s".c$i{margin:${r.int(20)}px;color:#${r.hex(6)};font-size:${r.between(10, 18)}px}"))
    sb.append("</style><script>")
    (0 until r.between(3, 10)).foreach(i =>
      sb.append(s"var cfg$i={id:'${r.hex(8)}',retry:${r.int(5)}};function f$i(x){return x*$i;}"))
    sb.append("</script></head><body><nav><ul>")
    (0 until r.between(5, 12)).foreach(i =>
      sb.append(s"<li><a href=\"/section/$i\">Section $i</a></li>"))
    sb.append("</ul></nav><div class=\"content\"><h1>服務說明</h1>")
    while (sb.length < target) {
      sb.append("<p>")
      (0 until r.between(1, 3)).foreach(_ => sb.append(zhProse(r)))
      if (r.chance(0.6)) { sb.append(piiFragment(r, 0.7)); pii += 1 }
      sb.append("</p>")
      if (r.chance(0.2)) {
        sb.append(s"<table><tr><td>${r.pick(names)}</td><td>${phone(r)}</td></tr></table>")
        pii += 1
      }
    }
    sb.append("</div><footer>&copy; 2024 Example Corp &amp; Partners</footer></body></html>")
    (sb.toString, pii)
  }

  private def logText(r: Rng, target: Int): (String, Int) = {
    val sb = new StringBuilder
    var pii = 0
    while (sb.length < target) {
      val cls = r.pick(classes)
      sb.append(f"2024-0${r.between(1, 9)}-${r.between(10, 28)} ${r.between(10, 23)}:${r.between(10, 59)}:" +
        f"${r.between(10, 59)}.${r.between(100, 999)} ${r.pick(levels)} [worker-${r.int(16)}] $cls - ")
      r.int(6) match {
        case 0 => sb.append(s"sent receipt to ${email(r)} host=db-${r.int(9)}.internal.example.net"); pii += 1
        case 1 => sb.append(s"cache miss for key user:${r.hex(12)} entry=${cls}$$Entry@${r.hex(8)}")
        case 2 => sb.append(s"customer ${twId(r)} login ok from 10.${r.int(255)}.${r.int(255)}.${r.int(255)}"); pii += 1
        case 3 => sb.append(s"request took ${r.int(900)} ms status=${r.pick(Vector(200, 200, 404, 500))}")
        case 4 => sb.append(s"callback phone ${phone(r)} queued id=${r.digits(6)}"); pii += 1
        case _ =>
          sb.append(s"java.lang.IllegalStateException: ${cls}@${r.hex(8)} closed")
          (0 until r.between(2, 8)).foreach { _ =>
            val c = r.pick(classes)
            sb.append(s"\n\tat $c.${r.pick(Vector("run", "apply", "handle", "send", "get"))}" +
              s"(${c.substring(c.lastIndexOf('.') + 1)}.java:${r.between(20, 900)})")
          }
      }
      sb.append('\n')
    }
    (sb.toString, pii)
  }

  private def recordText(r: Rng, target: Int): (String, Int) = {
    val sb = new StringBuilder
    var pii = 0
    while (sb.length < target) {
      r.int(4) match {
        case 0 =>
          sb.append(s"病患${r.pick(names)}（身分證${twId(r)}）於${r.pick(hospitals)}就診，病歷號碼${medicalId(r)}，" +
            s"聯絡電話${phone(r)}，住址${zhAddress(r)}。")
          pii += 4
        case 1 =>
          sb.append(s"帳戶由${r.pick(companies)}（統一編號${ubn(r)}）開立，負責人電子郵件${email(r)}，" +
            s"護照號碼${passport(r)}。")
          pii += 3
        case 2 =>
          sb.append(s"通訊地址：${r.pick(cities)}${r.pick(Vector("文山", "中和", "北投"))}里${r.between(1, 30)}鄰" +
            s"${r.between(1, 200)}號，${r.pick(Vector("信義", "遠雄", "國泰"))}大樓${r.between(2, 30)}樓。")
          pii += 2
        case _ =>
          sb.append("本次檢查結果正常，建議三個月後回診追蹤，並持續規律運動與均衡飲食。")
      }
    }
    (sb.toString, pii)
  }

  /** `docs_blackbox`: HTML pages, server logs and zh record paragraphs with
    * bounded-Pareto lengths from 300 chars to 40 KB.
    */
  def docs(seed: Long, n: Int): Vector[Row] = {
    val r = new Rng(seed ^ 0xd0c5L)
    val (lo, hi, alpha) = (300.0, 40000.0, 1.1)
    val rowPlan = plan(n, Seq("html" -> 0.35, "log" -> 0.35, "record" -> 0.30), r)(u =>
      (lo / math.pow(1 - u * (1 - math.pow(lo / hi, alpha)), 1 / alpha)).toInt)
    val out = Vector.newBuilder[Row]
    var i = 0
    var conv = 0
    while (i < n) {
      val size = math.min(r.between(1, 8), n - i)
      var t = 0
      while (t < size) {
        val (kind, target) = rowPlan(i)
        val (text, pii) = kind match {
          case "html" => htmlPage(r, target)
          case "log" => logText(r, target)
          case _ => recordText(r, target)
        }
        val tool = kind match { case "html" => "browser"; case "log" => "shell"; case _ => "upload" }
        out += Row(f"d$conv%06d", t, "tool", text, tool, kind, pii)
        t += 1; i += 1
      }
      conv += 1
    }
    out.result()
  }
}
