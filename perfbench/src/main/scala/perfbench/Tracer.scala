package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** In-memory record of the Spark jobs, stages and tasks that run after
  * construction. Register it after set-up, so untimed warm-up and
  * caching work is never counted. */
final class Tracer(spark: SparkSession) {
  import Tracer.Task

  private val jobStart = scala.collection.mutable.LinkedHashMap[Int, Long]()
  private val jobEnd = scala.collection.mutable.HashMap[Int, Long]()
  private val jobStages = scala.collection.mutable.HashMap[Int, Seq[Int]]()
  private val stages = scala.collection.mutable.HashMap[Int, (String, Long, Long)]()
  private val tasks = ArrayBuffer[Task]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      jobStages(e.jobId) = e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stages(si.stageId) = (si.name, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Blocks until every started job has ended (events arrive on the
    * listener bus asynchronously), then detaches the listener. */
  def awaitQuiet(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def balanced = synchronized(jobStart.keySet.forall(jobEnd.contains))
    while (!balanced && System.currentTimeMillis() < deadline) Thread.sleep(10)
    if (!balanced) throw new IllegalStateException("listener: job-end events missing")
    spark.sparkContext.removeSparkListener(listener)
  }

  private def overlap(a0: Long, a1: Long, b0: Long, b1: Long): Long =
    math.max(0L, math.min(a1, b1) - math.max(a0, b0))

  /** Union length of the job intervals clipped to [t0, t1]. */
  private def jobBusy(t0: Long, t1: Long): Long = {
    val iv = jobStart.toSeq.map { case (id, s) => (math.max(s, t0), math.min(jobEnd(id), t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered + (curE - curS)
  }

  /** Task and job totals for the window [t0, t1] and for its engine
    * intervals: init (to the first manifest publish), first wave (first
    * to second publish) and later waves (second publish to t1). Publish
    * times are relative to t0. */
  def summary(t0: Long, t1: Long, pubsRel: Seq[Long], cores: Int): Main.Rec = synchronized {
    def interval(a: Long, b: Long): Main.Rec = {
      val wallS = (b - a) / 1000.0
      val taskS = tasks.map(t => overlap(t.launch, t.finish, a, b)).sum / 1000.0
      Map(
        "wall_s" -> wallS,
        "task_s" -> taskS,
        "busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
        "driver_gap_s" -> ((b - a) - jobBusy(a, b)) / 1000.0,
        "jobs" -> jobStart.values.count(s => s >= a && s < b))
    }
    val pubs = pubsRel.map(_ + t0)
    val parts = Seq("window" -> (t0, t1)) ++
      (if (pubs.length >= 2) Seq("init" -> (t0, pubs(0)), "first_wave" -> (pubs(0), pubs(1)),
        "later_waves" -> (pubs(1), t1)) else Nil)
    val inWin = tasks.filter(t => t.finish >= t0 && t.finish <= t1)
    val durs = inWin.map(t => t.finish - t.launch)
    parts.map { case (n, (a, b)) => n -> interval(a, b) }.toMap ++ Map(
      "tasks" -> inWin.size,
      "task_mean_ms" -> (if (durs.isEmpty) 0.0 else durs.sum.toDouble / durs.size),
      // task wall times are whole milliseconds; CPU time is in ns
      "task_cpu_max_ms" -> (if (inWin.isEmpty) 0.0 else inWin.map(_.cpuNs).max / 1e6),
      "task_run_s" -> inWin.map(_.runMs).sum / 1000.0,
      "shuffle_read_bytes" -> inWin.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> inWin.map(_.shuffleWrite).sum,
      "input_bytes" -> inWin.map(_.input).sum,
      "output_bytes" -> inWin.map(_.output).sum,
      "spill_bytes" -> inWin.map(_.spill).sum)
  }

  /** Spans of run `run`, nested run → engine interval (between manifest
    * publishes) → Spark job → stage; times in ms relative to t0. */
  def spans(run: String, t0: Long, t1: Long, pubsRel: Seq[Long]): Seq[Main.Rec] = synchronized {
    val out = ArrayBuffer[Main.Rec]()
    def span(id: String, name: String, s: Long, e: Long, parent: String): Unit =
      out += Map("id" -> s"$run.$id", "name" -> name, "start_ms" -> (s - t0),
        "end_ms" -> (e - t0), "parent" -> (if (parent == null) null else s"$run.$parent"),
        "run" -> run)
    span("run", "run", t0, t1, null)
    val bounds = (t0 +: pubsRel.map(_ + t0)) :+ t1
    val ivs = bounds.zip(bounds.drop(1)).zipWithIndex.map { case ((a, b), i) =>
      val name = if (pubsRel.isEmpty) "window" else if (i == 0) "init"
        else if (i == pubsRel.length) "finish" else f"commit v${i + 1}%05d"
      span(s"e$i", name, a, b, "run")
      (s"e$i", a, b)
    }
    jobStart.foreach { case (id, s) =>
      val parent = ivs.find { case (_, a, b) => s >= a && s < b }.map(_._1).getOrElse("run")
      span(s"j$id", s"job $id", s, jobEnd.getOrElse(id, s), parent)
      jobStages.getOrElse(id, Nil).flatMap(st => stages.get(st).map(st -> _)).foreach {
        case (st, (name, a, b)) => span(s"j$id.s$st", name, a, b, s"j$id")
      }
    }
    out.toSeq
  }
}

object Tracer {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, input: Long, output: Long, spill: Long)
}
