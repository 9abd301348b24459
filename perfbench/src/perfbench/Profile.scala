package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Engine counters for one timed pass, from a listener attached around it. */
final class Profile extends SparkListener {
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      schedDelayMs: Long, peakMem: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, input: Long, output: Long)
  final case class Stage(id: Int, tasks: Int, submitMs: Long, completeMs: Long)
  final case class Job(id: Int, startMs: Long, endMs: Long)

  val tasks = ArrayBuffer.empty[Task]
  val stages = ArrayBuffer.empty[Stage]
  val jobs = ArrayBuffer.empty[Job]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime.max(0L)
      tasks += Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        sched.max(0L), m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += Stage(s.stageId, s.numTasks, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Job(e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time)
  }
}

object Profile {

  /** Runs `body` with a fresh listener attached; the bus is drained before
    * the listener is read, so every event of the pass is counted.
    */
  def around[A](sc: SparkContext)(body: => A): (A, Profile) = {
    val p = new Profile
    sc.addSparkListener(p)
    try {
      val a = body
      org.apache.spark.PerfbenchBus.drain(sc)
      (a, p)
    } finally sc.removeSparkListener(p)
  }

  /** JVM-wide GC time so far; in local mode the executors share this JVM. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Per-pass engine metrics, averaged over the traced passes. */
  def metrics(passes: Seq[(Profile, Double, Long)], cores: Int): Map[String, Double] = {
    if (passes.isEmpty) return Map.empty
    val n = passes.size.toDouble
    val all = passes.flatMap(_._1.tasks)
    val wall = passes.map(_._2).sum
    val rows = passes.map(_._3).sum.toDouble
    def perPass(f: Profile#Task => Long, scale: Double): Double =
      all.map(t => f(t).toDouble).sum * scale / n
    // the stage with the most executor time in each pass, where skew costs most
    val heaviest = passes.map { case (p, _, _) =>
      val byStage = p.tasks.groupBy(_.stage)
      if (byStage.isEmpty) Seq.empty[Long]
      else byStage.maxBy(_._2.map(_.runMs).sum)._2.map(t => t.finishMs - t.launchMs).toSeq
    }
    val finals = passes.map { case (p, _, _) =>
      if (p.stages.isEmpty) (0, 0.0)
      else {
        val s = p.stages.maxBy(_.completeMs)
        (s.tasks, (s.completeMs - s.submitMs) / 1e3)
      }
    }
    Map(
      "spark.task_us_per_row" -> all.map(_.runMs).sum * 1e3 / rows,
      "spark.core_utilization" -> all.map(_.runMs).sum / 1e3 / (wall * cores),
      "spark.scheduler_wait_s" -> perPass(_.schedDelayMs, 1e-3),
      "spark.task_cpu_s" -> perPass(_.cpuNs, 1e-9),
      "spark.jobs" -> passes.map(_._1.jobs.size).sum / n,
      "spark.stages" -> passes.map(_._1.stages.size).sum / n,
      "spark.tasks" -> all.size / n,
      "spark.task_s.p50" -> Stats.median(heaviest.map(h => Stats.median(h.map(_ / 1e3)))),
      "spark.task_s.max" -> Stats.median(heaviest.map(h => if (h.isEmpty) 0.0 else h.max / 1e3)),
      "spark.task_skew" -> Stats.median(heaviest.map { h =>
        val m = Stats.median(h.map(_.toDouble))
        if (h.isEmpty || m <= 0) 0.0 else h.max / m
      }),
      "spark.shuffle_write_mb" -> perPass(_.shuffleWrite, 1e-6),
      "spark.shuffle_read_mb" -> perPass(_.shuffleRead, 1e-6),
      "spark.spill_mb" -> perPass(_.spill, 1e-6),
      "spark.input_mb" -> perPass(_.input, 1e-6),
      "spark.output_mb" -> perPass(_.output, 1e-6),
      "spark.peak_exec_mem_mb" -> (if (all.isEmpty) 0.0 else all.map(_.peakMem).max / 1e6),
      "spark.final_stage_tasks" -> Stats.median(finals.map(_._1.toDouble)),
      "spark.final_stage_s" -> Stats.median(finals.map(_._2))
    )
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of values carrying sampling weights. */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2).sum
      var acc = 0.0
      s.find { case (_, w) => acc += w; acc >= q * total }.getOrElse(s.last)._1
    }
}
