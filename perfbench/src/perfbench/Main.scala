package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.extract.HtmlExtract
import graft.functions.gf
import graft.ops.{Dedup, Sampling, TextStats, UrlOps, WebClean}
import graft.pipeline.{Deid, DeidCore}
import graft.plans.{CheckpointedRun, GraftExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark JVM: one workload, one seed, one closed-loop client (one Spark
  * job in flight at a time) on local[<cores>].
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, root: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        new Bench(Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv("trace") == "1", kv("root"))).run()
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

/** Input size, deid mode and traced-sample size of each workload; sizes keep
  * a pass near one second on 4 cores, so a run holds several passes.
  */
final case class Workload(name: String, rows: Int, mode: String, sample: Int)

object Workload {
  val all: Map[String, Workload] = Seq(
    Workload("chat_replace", 60000, "replace", 1500),
    Workload("docs_blackbox", 800, "blackbox", 240),
    Workload("chat_archive", 24000, "blackbox", 1500)
  ).map(w => w.name -> w).toMap
}

/** Single-thread mixing loop, run beside every pass: a slow pass with a slow
  * probe points at the host, a slow pass with a normal probe at the program.
  */
object Probe {
  private def work(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }
  def warm(): Unit = if (work(5000000L) == 42) println("")
  def mops(iters: Long = 10000000L): Double = {
    val t0 = System.nanoTime()
    val sink = work(iters)
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink == 42) println("")
    iters / sec / 1e6
  }
}

final class Bench(a: Main.Args) {
  import Bench._

  private val w = Workload.all(a.workload)
  private val cores = Runtime.getRuntime.availableProcessors
  private val buildDir = s"${a.root}/.bench_build"
  private val runDir = s"$buildDir/runs/${w.name}-s${a.seed}-${ProcessHandle.current.pid}"
  private val dataDir = s"$runDir/input"

  private val rows: Vector[Gen.Row] = w.name match {
    case "chat_replace" => Gen.chatReplace(a.seed, w.rows)
    case "docs_blackbox" => Gen.docs(a.seed, w.rows)
    case "chat_archive" => Gen.chatArchive(a.seed, w.rows)
  }
  private val inputBytes: Long = rows.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
  private val sample = Replay.stratified(rows, w.sample, a.seed)
  private val spans = new Spans

  private var spark: SparkSession = _
  private var reference = Map.empty[String, Digest]
  private var lastProfile: Profile = _

  private val t0Jvm = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0Jvm) / 1e9}%7.2fs] $msg")

  def run(): Unit = {
    log(f"generated ${rows.size} rows, ${inputBytes / 1e6}%.1f MB")
    Probe.warm()
    try measure()
    finally {
      if (spark != null) spark.stop()
      deleteRecursively(new File(runDir))
    }
  }

  private def measure(): Unit = {
    // set-up: session start + extension injection + the first (untimed) pass,
    // three times; input materialisation is excluded
    val setups = ArrayBuffer.empty[Double]
    val setupPasses = ArrayBuffer.empty[PassOut]
    (0 until SetupReps).foreach { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession()
      log(f"session started in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      var excluded = 0L
      if (rep == 0) {
        val m0 = System.nanoTime()
        materialise()
        if (w.name == "chat_archive") {
          val (df, obs) = observed(Deid.redact(turns, w.mode, "zh"))
          noop(df)
          reference = Map("out" -> digest(obs))
        }
        excluded = System.nanoTime() - m0
      }
      val out = pass(-1 - rep, traced = false)
      if (rep == 0 && !out.ok) throw new IllegalStateException(s"first pass failed: ${out.error}")
      setupPasses += out
      setups += (System.nanoTime() - t0 - excluded) / 1e9
      log(f"setup ${rep + 1}: ${setups.last}%.2f s (materialise ${excluded / 1e9}%.2f s excluded)")
    }

    // warm-up: the JIT keeps improving for several passes after set-up
    setupPasses ++= (1 to WarmupPasses).map(k => pass(-SetupReps - k, traced = false))
    log("warm-up done")

    // timed window: closed loop, one pass after another; in a traced run half
    // the passes carry the listener, in ABBA order so a drift in pass times
    // (late JIT, host) does not land on one side of the overhead estimate
    val samples = ArrayBuffer.empty[Sample]
    val gc0 = Profile.gcMs()
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds || samples.size < MinPasses) {
      val traced = a.trace && (samples.size % 4 == 0 || samples.size % 4 == 3)
      val before = Probe.mops()
      val out = pass(samples.size, traced)
      val after = Probe.mops()
      samples += Sample(out, before, after, traced, if (traced) lastProfile else null)
    }

    val gcPerPassS = (Profile.gcMs() - gc0) / 1e3 / samples.size
    log(s"timed window: ${samples.size} passes")
    val checks = Seq("golden_deid" -> goldenCheck(), "traced_sample" -> sampleCheck())
    log("checks done")

    val passes = setupPasses.toSeq ++ samples.map(_.out)
    val failed = passes.count(!_.ok)
    val good = samples.filter(_.out.ok)
    def rate(s: Seq[Sample]): Double = Stats.median(s.map(x => rows.size / x.out.seconds))

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "rows_per_s" -> rate(good.toSeq),
        "input_mb_per_s" -> Stats.median(good.toSeq.map(x => inputBytes / 1e6 / x.out.seconds)),
        "setup_s" -> Stats.median(setups.toSeq))
      else layerMetrics(good.toSeq, setups.toSeq) + ("spark.gc_s" -> gcPerPassS)

    if (a.trace) log("trace metrics done")
    val spansFile = s"$buildDir/traces/${w.name}-s${a.seed}.spans.jsonl"
    if (a.trace) {
      samples.foreach { s =>
        val id = s"pass-${s.out.index}"
        val p = spans.add("pass", s.out.startNs, s.out.startNs + (s.out.seconds * 1e9).toLong, -1, id)
        if (s.profile != null) s.profile.jobs.foreach { j =>
          val off = (j.startMs - s.out.startMs) * 1000000L
          spans.add(s"job-${j.id}", s.out.startNs + off,
            s.out.startNs + off + (j.endMs - j.startMs) * 1000000L, p, id)
        }
      }
      spans.write(spansFile)
    }

    val units = expectedUnits(a.trace)
    val missing = units.keySet -- metrics.keySet
    require(missing.isEmpty, s"metrics not produced: ${missing.toSeq.sorted.mkString(", ")}")
    val correct = failed == 0 && checks.forall(_._2._1)
    val detail = Json.obj(Seq(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "cores" -> cores,
      "input" -> inputStats,
      "setup_s" -> setups.toSeq,
      "passes" -> Json.Raw(samples.map(_.json).mkString("[", ",", "]")),
      "untimed_passes" -> Json.Raw(setupPasses.map(_.json).mkString("[", ",", "]")),
      "checks" -> checks.map { case (k, (ok, note)) => k -> Map("ok" -> ok, "note" -> note) }.toMap,
      "spans_file" -> (if (a.trace) new File(spansFile).getName else null)))
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> passes.size, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(units.toSeq.map { case (k, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> metrics(k), "unit" -> u)))
      }))))
    val resultsDir = new File(s"$buildDir/results")
    resultsDir.mkdirs()
    val pw = new java.io.PrintWriter(
      new File(resultsDir, s"${w.name}-s${a.seed}-t${if (a.trace) 1 else 0}.json"), "UTF-8")
    try { pw.println(detail); pw.println(result) } finally pw.close()
    println(detail)
    println(result)
  }

  // ---- session and input ----------------------------------------------

  private def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one scan task per input file: the materialised inputs are 4 files per core
      .config("spark.sql.files.openCostInBytes", (128L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$buildDir/tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Writes the workload's turns table. A traced run also writes the same
    * rows as a `documents` table, the input of the curation layers.
    */
  private def materialise(): Unit = {
    def write(path: String, schema: StructType, data: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(data, 4 * cores), schema)
        .write.parquet(path)
    write(s"$dataDir/turns", turnSchema, rows.zipWithIndex.map { case (r, i) =>
      Row(r.convId, r.turnIdx, r.role, r.text, r.tool, new java.sql.Timestamp(BaseTs + i * 1000L))
    })
    if (a.trace)
      write(s"$dataDir/documents.parquet", docSchema, rows.zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r.text, "zh", Option(r.tool).getOrElse(r.role),
          r.text.codePointCount(0, r.text.length).toLong)
      })
  }

  private def turns: DataFrame = spark.read.parquet(s"$dataDir/turns")

  private def inputStats: Map[String, Any] = {
    val lens = rows.map(_.text.length.toDouble)
    Map("rows" -> rows.size, "text_bytes" -> inputBytes,
      "len_p50" -> Stats.quantile(lens, 0.5), "len_p99" -> Stats.quantile(lens, 0.99),
      "html_share" -> rows.count(r => startsLikeHtml(r.text)).toDouble / rows.size,
      "pii_per_row" -> rows.map(_.pii).sum.toDouble / rows.size)
  }

  // ---- passes -----------------------------------------------------------

  private def timed[A](traced: Boolean)(body: => A): (A, Long, Long, Double) = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      if (traced) {
        val (x, p) = Profile.around(spark.sparkContext)(body)
        lastProfile = p
        x
      } else body
    (out, t0, ms, (System.nanoTime() - t0) / 1e9)
  }

  /** One run of the workload's job over the whole input, then its output
    * checks (row count, and the column digest against the first pass's).
    */
  private def pass(index: Int, traced: Boolean): PassOut =
    try {
      val (digests, t0, ms, sec, extra, ok0) = w.name match {
        case "chat_archive" => archivePass(index, traced)
        case _ =>
          val (obs, t0, ms, sec) = timed(traced) {
            val (df, o) = observed(Deid.redact(turns, w.mode, "zh"))
            noop(df)
            o
          }
          (Map("out" -> digest(obs)), t0, ms, sec, Map.empty[String, Double], true)
      }
      if (reference.isEmpty) reference = digests
      val bad = digests.collect {
        case (k, d) if d.n != rows.size => s"$k: ${d.n} rows, input has ${rows.size}"
        case (k, d) if !reference.get(k).contains(d) => s"$k: digest differs from first pass"
      }
      PassOut(index, t0, ms, sec, ok0 && bad.isEmpty,
        if (!ok0) "checkpoint status wrong" else bad.mkString("; "), extra)
    } catch {
      case e: Exception => PassOut(index, System.nanoTime(), System.currentTimeMillis(), 0.0,
        ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}", Map.empty)
    }

  /** Write and resume: redact, cluster, checkpointed write into a fresh
    * directory (timed), a second invocation that must skip every bucket
    * (timed as resume), and a read-back digest equal to the noop path's.
    */
  private def archivePass(index: Int, traced: Boolean) = {
    val out = s"$runDir/out-$index"
    def job() = CheckpointedRun.run(spark, Deid.clusterForWrite(Deid.redact(turns, w.mode, "zh")),
      out, s"perfbench-${a.seed}", s"${w.mode}-zh", nBuckets = 4 * cores)
    val (st, t0, ms, sec) = timed(traced)(job())
    val r0 = System.nanoTime()
    val again = job()
    val resumeS = (System.nanoTime() - r0) / 1e9
    val back = spark.read.parquet(s"$out/data").select(turnOutCols.map(col): _*)
    val aggs = digestAggs(hashOf(back))
    val d = back.agg(aggs.head, aggs.tail: _*).head()
    val written = dirBytes(new File(out))
    deleteRecursively(new File(out))
    val extra = Map(
      "resume_s" -> resumeS,
      "buckets_processed" -> st.processed.toDouble,
      "skipped_ratio" -> again.skipped.toDouble / again.total,
      "write_amplification" -> written.toDouble / inputBytes)
    val ok = st.processed == st.total && again.processed == 0 && again.skipped == again.total
    (Map("out" -> Digest(d.getLong(0), d.getLong(1), d.getLong(2))), t0, ms, sec, extra, ok)
  }

  // ---- correctness checks beyond the per-pass digests -------------------

  /** The reference pipeline goldens, read through `gf.deid`. */
  private def goldenCheck(): (Boolean, String) = {
    val f = new File(s"${a.root}/src/test/resources/golden_deid.json")
    if (!f.isFile) return (false, "golden_deid.json not found")
    val cases = new ObjectMapper().readTree(f).get("pipeline").elements().asScala.toVector
    val bad = cases.zipWithIndex.groupBy { case (c, _) => (c.get("mode").asText, c.get("lang").asText) }
      .toSeq.flatMap { case ((mode, lang), group) =>
        val df = spark.createDataFrame(
          group.map { case (c, i) => Row(i, c.get("text").asText) }.asJava,
          StructType(Seq(StructField("id", IntegerType), StructField("text", StringType))))
        val got = df.select(col("id"), gf.deid(col("text"), mode, lang, extractHtml = false).as("r"))
          .collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap
        group.collect { case (c, i) if !got.get(i).exists(sameAsGolden(_, c)) => i }
      }
    (bad.isEmpty, s"${cases.size - bad.size}/${cases.size} cases match" +
      (if (bad.isEmpty) "" else s"; failing ${bad.sorted.take(10).mkString(",")}"))
  }

  private def sameAsGolden(r: Row, c: JsonNode): Boolean = {
    val ents = c.get("entities").elements().asScala.map(e =>
      (e.get("type").asText, e.get("start").asInt, e.get("end").asInt, e.get("score").asDouble,
        e.get("source").asText, e.get("text").asText)).toSeq
    val evs = c.get("events").elements().asScala.map(e =>
      Row(e.get("entity_type").asText, e.get("original").asText, e.get("replacement").asText,
        e.get("span").get(0).asInt, e.get("span").get(1).asInt, e.get("source").asText)).toSeq
    val map = c.get("replacement_map").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    r.getString(0) == c.get("clean").asText &&
      r.getSeq[Row](1).map(e => (e.getString(0), e.getInt(5), e.getInt(6), e.getDouble(2),
        e.getString(3), e.getString(7))) == ents &&
      r.getSeq[Row](2) == evs &&
      r.getMap[String, String](3).toMap == map
  }

  /** Each sampled row's Spark output equals `DeidCore.process` on the row
    * (after HTML extraction where the row looks like HTML).
    */
  private def sampleCheck(): (Boolean, String) = {
    val keys = spark.createDataFrame(
      sample.map { case (i, _) => Row(rows(i).convId, rows(i).turnIdx) }.asJava,
      StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType))))
    val got = Deid.redact(turns.join(broadcast(keys), Seq("conv_id", "turn_idx")), w.mode, "zh")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val bad = sample.count { case (i, _) =>
      val raw = rows(i).text
      val want = DeidCore.process(
        if (HtmlExtract.looksLikeHtml(raw)) HtmlExtract.getText(raw) else raw, w.mode, "zh")
      !got.get((rows(i).convId, rows(i).turnIdx)).exists { r =>
        r.getString(2) == want.text &&
          r.getSeq[Row](3) == want.entities.map(e => Row.fromSeq(e.productIterator.toSeq)) &&
          r.getSeq[Row](4) == want.events.map(e => Row.fromSeq(e.productIterator.toSeq)) &&
          r.getMap[String, String](5).toMap == want.replacementMap
      }
    }
    (bad == 0, s"${sample.size - bad}/${sample.size} sampled rows equal DeidCore.process")
  }

  // ---- traced run ---------------------------------------------------------

  private def layerMetrics(good: Seq[Sample], setups: Seq[Double]): Map[String, Double] = {
    val traced = good.filter(_.traced)
    val untraced = good.filterNot(_.traced)
    def rate(s: Seq[Sample]): Double = Stats.median(s.map(x => rows.size / x.out.seconds))
    val base = Map(
      "setup.cold_s" -> setups.head,
      "host.probe_mops" -> Stats.median(good.flatMap(s => Seq(s.probeBefore, s.probeAfter))),
      "trace.rows_per_s" -> rate(traced),
      "trace.overhead_share" -> (1 - rate(traced) / rate(untraced))
    ) ++ Profile.metrics(traced.map(s => (s.profile, s.out.seconds, rows.size.toLong)), cores)

    // every layer is timed on every workload's input, also where the
    // workload's own job does not call it (the README says which figures
    // each layer moves)
    val writes =
      if (w.name == "chat_archive") good.map(_.out)
      else (0 until 3).map { k =>
        val (_, _, _, sec, extra, ok) = archivePass(1000 + k, traced = false)
        require(ok, "checkpoint status wrong")
        PassOut(1000 + k, 0L, 0L, sec, ok = true, "", extra)
      }
    def med(k: String) = Stats.median(writes.map(_.extra(k)))
    val plans = Map("plans.checkpoint.run_s" -> Stats.median(writes.map(_.seconds)),
      "plans.checkpoint.buckets_processed" -> med("buckets_processed"),
      "plans.resume.skipped_ratio" -> writes.map(_.extra("skipped_ratio")).min,
      "plans.resume_s" -> med("resume_s"),
      "plans.write_amplification" -> med("write_amplification"))

    base ++ plans ++ Replay.run(rows, sample, w.mode, spans) ++ opsMetrics()
  }

  /** Each curation operator and query body alone, to the noop sink. */
  private def opsMetrics(): Map[String, Double] = {
    val d = spark.read.parquet(s"$dataDir/documents.parquet")
    val text = d.select("doc_id", "text")
    def time(df: => DataFrame): Double =
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        noop(df)
        (System.nanoTime() - t0) / 1e9
      })
    val id = col("doc_id")
    val url = concat(lit("https://"), when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com/page-"), (id % 500).cast("string"),
      when(id % 2 === 0, lit("?utm_source=feed&b=2&a=1")).otherwise(lit("/")), lit("#top"))
    val dups = Dedup.exact(text).where(col("is_dup")).count()
    Map(
      "ops.gopher_signals.s" -> time(TextStats.gopherSignals(text)),
      "ops.repetition_signals.s" -> time(TextStats.repetitionSignals(text)),
      "ops.unigram_freq.s" -> time(TextStats.unigramFreqScore(text)),
      "ops.dedup_exact.s" -> time(Dedup.exact(text)),
      "ops.dedup_exact.dup_ratio" -> dups.toDouble / rows.size,
      "ops.stratified_sample.s" -> time(Sampling.stratifiedSample(d.select("doc_id", "source"),
        "source", id, Map.empty, defaultPermille = 800, bucketOf = Sampling.mulHashBucket(_))),
      "ops.url_canonicalize.s" -> time(d.select(id, url.as("url"))
        .withColumn("curl", UrlOps.canonicalizeUrl(col("url")))),
      "ops.hashed_quality.s" -> time(WebClean.hashedLinearScore(text))
    ) ++ Queries.map(q => s"entry.$q.s" -> time(SparkEntry.queries(q)(spark, dataDir)))
  }

  private def expectedUnits(trace: Boolean): scala.collection.immutable.ListMap[String, String] = {
    val spec = new ObjectMapper().readTree(new File(s"${a.root}/BENCHMARK.json"))
    scala.collection.immutable.ListMap(
      spec.get(if (trace) "per_layer" else "end_to_end").elements().asScala.toSeq
        .map(m => m.get("name").asText -> m.get("unit").asText): _*)
  }
}

object Bench {
  val SetupReps = 3
  val WarmupPasses = 2
  val MinPasses = 3
  val BaseTs = 1704067200000L
  val Queries = Seq("corpus_build_decision", "crawl_curation_pipeline")
  val turnOutCols = Seq("conv_id", "turn_idx", "text", "entities", "events", "replacement_map")

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Order-independent digest of a frame's rows: count, xor and a bounded
    * sum of one 64-bit hash over every column.
    */
  final case class Digest(n: Long, x: Long, s: Long)

  final case class PassOut(index: Int, startNs: Long, startMs: Long, seconds: Double, ok: Boolean,
      error: String, extra: Map[String, Double]) {
    def fields: Seq[(String, Any)] = Seq("pass" -> index, "seconds" -> seconds, "ok" -> ok,
      "error" -> (if (error.isEmpty) null else error), "extra" -> extra)
    def json: String = Json.obj(fields)
  }

  /** A timed pass with the host probe taken before and after it. */
  final case class Sample(out: PassOut, probeBefore: Double, probeAfter: Double,
      traced: Boolean, profile: Profile) {
    def json: String = Json.obj(out.fields ++ Seq("traced" -> traced,
      "probe_before_mops" -> probeBefore, "probe_after_mops" -> probeAfter))
  }

  def hashOf(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => map_entries(col(f.name))
      case _ => col(f.name)
    }
  }: _*)

  def digestAggs(h: Column): Seq[Column] =
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(pmod(h, lit(Int.MaxValue.toLong))).as("s"))

  def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val aggs = digestAggs(hashOf(df))
    (df.observe(o, aggs.head, aggs.tail: _*), o)
  }

  def digest(o: Observation): Digest = {
    val m = o.get
    Digest(m("n").asInstanceOf[Long], m("x").asInstanceOf[Long], m("s").asInstanceOf[Long])
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Same test as the program's HTML gate, kept here so input stats do not
    * depend on program code.
    */
  def startsLikeHtml(s: String): Boolean = {
    val t = s.stripLeading().take(15).toLowerCase
    t.startsWith("<!doctype") || t.startsWith("<html")
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
